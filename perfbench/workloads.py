"""The two workloads: `service` (the request path) and `batch` (the
spatial batch jobs, the curation operators and the ingest write path).

Each workload object offers, to run.py:

  SETUP_REPS        how many set-ups a run times; `setup_s` is their median.
  SLOTS             Spark task slots (local[SLOTS]) of the workload's sessions.
  open(spark)       set-up after the session starts: open the inputs, build
                    the engine, warm up.  Timed as part of `setup_s`.
  run(seconds)      the timed window; returns one record per operation
                    {"name", "t0", "t1", "out"} ("out" is the result, or an
                    ("error", code-or-message) tuple).
  latencies_ms(ops) the operation times the latency figures are made of.
  latency_ms(ops)   the workload's `latency_ms`.
  ops_per_s(ops, wall)  the workload's `ops_per_s`.
  check(ops)        the output checks (outside the timed path): sets
                    op["fail"] to a reason, or None.
  stored_bytes_per_row()
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pandas as pd

import checks
import gen


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def parquet_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _collect_ids(rows) -> list[int]:
    return [int(r.osm_id) for r in rows]


class Service:
    """Closed loop: CLIENTS threads, each sending its next request as soon
    as the previous one returns, against one PoiEngine."""

    CLIENTS = 2
    #: one task slot, which the clients contend for: a request costs about
    #: 2.3 core-seconds (the driver JVM and the Python workers about half
    #: each), so with 2 or 4 slots the 4 cores had no idle time left and
    #: latency measured the scheduler (median 1.2 s with 2 slots, 1.6 s with
    #: 4, 0.7 s with 1)
    SLOTS = 1
    SETUP_REPS = 3
    #: requests generated per run, far more than a minute's closed loop sends
    DECK = 2000

    def __init__(self, inputs: dict, seed: int):
        self.inputs, self.seed = inputs, seed
        self.tracer = None  # a tracing.Tracer in a traced run
        self.digests = checks.load_digests()
        self.deck = gen.service_requests(seed, self.DECK)

    def open(self, spark) -> None:
        from openpoiservice_spark.api import PoiEngine

        self.spark = spark
        self.engine = PoiEngine(spark, self.inputs["prepared"])
        for req in gen.service_requests(0, 1, stream=99):
            self.execute(req)

    def execute(self, req: dict, probe_stats: dict | None = None):
        from openpoiservice_spark.api import InvalidUsage

        try:
            if req["kind"] == "knn":
                kw = {} if probe_stats is None else {"probe_stats": probe_stats}
                return _collect_ids(
                    self.engine.knn_df(req["lon"], req["lat"], req["k"], **kw).collect())
            return self.engine.request(req["payload"])
        except InvalidUsage as e:
            return ("error", e.error_code)
        except Exception as e:  # noqa: BLE001 — a crashed request is a failed operation
            return ("error", f"{type(e).__name__}: {e}")

    def run(self, seconds: float) -> list[dict]:
        ops: list[dict] = []
        lock = threading.Lock()
        nxt = iter(self.deck)
        deadline = time.time() + seconds
        errors: list[BaseException] = []

        def client():
            try:
                while time.time() < deadline:
                    with lock:
                        req = next(nxt, None)
                    if req is None:
                        raise RuntimeError(f"the {self.DECK}-request deck ran out")
                    op = {"name": req["kind"], "req": req}
                    op["t0"] = time.time()
                    if self.tracer is None:
                        op["out"] = self.execute(req)
                    else:
                        with self.tracer.span("request", kind=req["kind"]) as rec:
                            stats = {} if req["kind"] == "knn" else None
                            op["out"] = self.execute(req, stats)
                            if stats:
                                rec["attrs"]["probes"] = stats.get("probes")
                        op["span"] = rec["id"]
                    op["t1"] = time.time()
                    with lock:
                        ops.append(op)
            except BaseException as e:  # noqa: BLE001 — reported as a failed run
                errors.append(e)

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return ops

    def latencies_ms(self, ops: list[dict]) -> list[float]:
        """Requests that reach Spark; `list` and rejected requests answer
        on the Spark driver in microseconds and would only dilute the tail."""
        return [1000.0 * (o["t1"] - o["t0"]) for o in ops
                if o["name"] not in ("list", "invalid")]

    def latency_ms(self, ops: list[dict]) -> float:
        """The median request latency."""
        return float(np.median(self.latencies_ms(ops)))

    def ops_per_s(self, ops: list[dict], wall: float) -> float:
        """Completed requests (of every kind) per second of the window."""
        return len(ops) / wall

    def check(self, ops: list[dict]) -> None:
        snap = checks.Snapshot(os.path.join(self.inputs["prepared"], "data"))
        for op in ops:
            op["fail"] = checks.check_request(snap, op["req"], op["out"], self.digests)

    def stored_bytes_per_row(self) -> float:
        return dir_bytes(self.inputs["prepared"]) / max(self.inputs["rows"], 1)


class Batch:
    """One pass = the spatial batch jobs over the cached table, the curation
    operators over the fixed corpus, and the ingest write path on a fresh
    table.  Passes repeat while they fit in `seconds` (at least one)."""

    #: the first set-up starts the JVM; the other two, about a second each,
    #: are on the running JVM, and their median is `setup_s`
    SETUP_REPS = 3
    SLOTS = 4
    N_BOXES = 30
    N_PROBES = 30
    N_READBACK = 1

    def __init__(self, inputs: dict, seed: int, work_dir: str = "."):
        self.inputs, self.seed, self.work_dir = inputs, seed, work_dir
        self.tracer = None  # a tracing.Tracer in a traced run
        self.digests = checks.load_digests()

    # ---------------------------------------------------------------- set-up

    def open(self, spark) -> None:
        from pyspark.sql import functions as F

        from openpoiservice_spark import batchjoin as BJ
        from openpoiservice_spark import geo as G
        from openpoiservice_spark import prepare as P
        from openpoiservice_spark.operators import ann as ANN

        self.spark = spark
        inp = self.inputs
        self.pois = P.read_prepared(spark, inp["prepared"])
        self.slim = self.pois.select(F.col("osm_id").alias("poi_id"), "lon", "lat")
        self.pcell_rows = P.load_pcell_stats(spark, inp["prepared"])
        self.boxes = gen.batch_boxes(self.seed, self.N_BOXES)
        self.geoms = BJ.geoms_to_df(
            spark, [(i, G.bbox_spec(*b), 0.0) for i, b in enumerate(self.boxes)])
        plon, plat = gen.knn_probes(self.seed, self.N_PROBES)
        self.probes = (plon, plat)
        self.probe_df = spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(self.N_PROBES, dtype=np.int64), "qlon": plon, "qlat": plat,
        }), BJ.KNN_QUERY_SCHEMA)
        self.line, self.line_buffer = gen.corridor(self.seed)
        self.docs = spark.read.parquet(inp["documents"])
        self.emb = spark.read.parquet(inp["embeddings"])
        self.images = spark.read.parquet(inp["images"])
        self.queries = self.emb.select(F.col("vec_id").alias("query_id"),
                                       F.col("embedding").alias("qvec"))
        self.planes = ANN.hyperplanes(ANN.auto_planes(inp["n_embeddings"], 64), 64, 13)
        self.qvec = np.random.default_rng([self.seed, 10]).normal(0, 1, 64)
        self.changes = gen.ingest_changes(
            self.seed, inp["ingest_ids"], inp["ingest_lon"], inp["ingest_lat"],
            next_id=inp["ingest_next_id"])
        self.readback = [r for r in gen.service_requests(self.seed, 200, stream=12)
                         if r["kind"] in ("bbox", "point", "polygon")][:self.N_READBACK]

    # ------------------------------------------------------------- the pass

    def _corridor_filter(self):
        from pyspark.sql import functions as F

        from openpoiservice_spark import cells as C
        from openpoiservice_spark import geo as G
        from openpoiservice_spark.functions import (cell_parent_sql, isin_expr,
                                                    make_refine_udf)

        spec = G.GeomSpec("linestring", self.line)
        cover = C.cover_geometry(spec, self.line_buffer, 12)
        pcover = np.unique(C.cell_parent(cover, C.PARTITION_RES)).tolist()
        qcell = cell_parent_sql("cell", C.DEFAULT_RES, 12)
        refine = make_refine_udf(spec, self.line_buffer, None)
        mnx, mny, mxx, mxy = spec.buffered_bounds(self.line_buffer)
        rng = ((F.col("lon") >= float(mnx)) & (F.col("lon") <= float(mxx))
               & (F.col("lat") >= float(mny)) & (F.col("lat") <= float(mxy)))

        def meta(d):
            return (d.filter(isin_expr("pcell", pcover)).filter(rng)
                    .filter(isin_expr(qcell, cover.tolist()))
                    .filter(refine(F.col("lon"), F.col("lat"))))

        def payload(d):
            return d.filter(isin_expr("pcell", pcover)).filter(rng)

        return meta, payload

    def _streams(self, pass_dir: str):
        """The pass as two job streams, each a list of (name, callable) run
        in order: the read jobs, and the ingest steps on the table under
        `pass_dir`."""
        from pyspark.sql import functions as F

        from openpoiservice_spark import batchjoin as BJ
        from openpoiservice_spark import prepare as P
        from openpoiservice_spark import streaming as S
        from openpoiservice_spark import tiles as TI
        from openpoiservice_spark.api import PoiEngine
        from openpoiservice_spark.operators import ann as ANN
        from openpoiservice_spark.operators import curation as CU
        from openpoiservice_spark.operators import images as IM
        from openpoiservice_spark.operators import text as TX

        meta, payload = self._corridor_filter()
        prep = os.path.join(pass_dir, "prepared")
        spark = self.spark
        ups_pdf = self._upserts_frame()
        state: dict = {}

        def knn():
            stats = {} if self.tracer is not None else None
            rows = BJ.batch_knn(self.slim, self.probe_df, k=10, res=14,
                                pcell_rows=self.pcell_rows, probe_stats=stats).collect()
            state["knn_rounds"] = (stats or {}).get("rounds")
            return rows

        def readback():
            eng = PoiEngine(spark, prep)
            return [eng.request(r["payload"]) for r in self.readback]

        spatial = [
            ("batchjoin.join", lambda: BJ.batch_join_counts(self.slim, self.geoms, res=12).collect()),
            ("batchjoin.knn", knn),
            ("tiles.corridor", lambda: TI.tile_histogram(
                meta(self.pois).select("osm_id", "lon", "lat", "w", "h"), 14).collect()),
            ("tiles.heatmap", lambda: TI.tile_heatmaps(self.pois.select("lon", "lat"), z=10)
             .select("tx", "ty", "n_points", F.length("png").alias("png_bytes")).collect()),
            ("tiles.pixel_stats", lambda: TI.tile_pixel_stats(
                TI.filter_payload(self.pois, meta_filter=meta, payload_prefilter=payload),
                14).collect()),
        ]
        curation = [
            ("text.lsh_md5", lambda: TX.lsh_candidate_pairs(self.docs).collect()),
            ("text.lsh_xxh", lambda: TX.lsh_candidate_pairs(self.docs, hash_fn="xxhash64").collect()),
            ("text.near_dup", lambda: TX.ngram_jaccard_pairs(self.docs).collect()),
            ("curation.repetition", lambda: CU.repetition_signals(self.docs).collect()),
            ("ann.batch_topk", lambda: ANN.batch_topk(
                self.emb, self.queries, k=10, planes=self.planes).collect()),
            ("ann.brute_topk", lambda: ANN.brute_topk(self.emb, self.qvec, 10).collect()),
            ("images.phash", lambda: IM.hamming_pairs(
                IM.dct_phash(self.images), col="dct_phash", key="image_id",
                max_dist=3, max_bucket=10_000).collect()),
        ]
        ingest = [
            ("prepare.prepare", lambda: P.prepare(spark, self.inputs["ingest_raw"], prep)),
            ("streaming.stream_prepare", lambda: S.stream_prepare(
                spark, os.path.join(pass_dir, "increments"), prep,
                os.path.join(pass_dir, "checkpoint")) and None),
            ("prepare.merge", lambda: P.merge(
                spark, prep, spark.createDataFrame(ups_pdf),
                [(1, int(i)) for i in self.changes["deletes"]])),
            ("api.readback_fragmented", readback),
            ("prepare.compact", lambda: P.compact(spark, prep)),
            ("api.readback_compacted", readback),
        ]
        return [spatial + curation, ingest], prep, state

    def _upserts_frame(self) -> pd.DataFrame:
        ids, lon, lat, tags = self.changes["upserts"]
        return gen.raw_poi_frame(ids, lon, lat, tags)

    def _write_increments(self, pass_dir: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        inc = os.path.join(pass_dir, "increments")
        os.makedirs(inc)
        for i, (ids, lon, lat, tags) in enumerate(self.changes["increments"]):
            pq.write_table(pa.Table.from_pandas(gen.raw_poi_frame(ids, lon, lat, tags),
                                                preserve_index=False),
                           os.path.join(inc, f"part-{i:03d}.parquet"))

    def _op(self, name: str, fn, n_pass: int, prep: str, state: dict, pass_dir: str) -> dict:
        op = {"name": name, "pass": n_pass}
        op["t0"] = time.time()
        try:
            if self.tracer is None:
                op["out"] = fn()
            else:
                with self.tracer.span(name) as rec:
                    op["out"] = fn()
                op["span"] = rec["id"]
        except Exception as e:  # noqa: BLE001 — a crashed job is a failed operation
            op["out"] = ("error", f"{type(e).__name__}: {e}")
        op["t1"] = time.time()
        if name == "batchjoin.knn":
            op["knn_rounds"] = state.get("knn_rounds")
        data = os.path.join(prep, "data")
        if name in ROWS_CHANGED and os.path.isdir(data):
            # the table's files after each write step, hard-linked for the
            # checks (the next step replaces them); read in check()
            keep = os.path.join(pass_dir, "states", name)
            shutil.copytree(data, keep, copy_function=os.link)
            op["state"] = {"dir": keep, "files": parquet_files(data), "bytes": dir_bytes(prep)}
            op["rows_changed"] = ROWS_CHANGED[name](self.inputs, self.changes)
        return op

    def run(self, seconds: float) -> list[dict]:
        """Passes while the next one, as long as the last, still ends within
        `seconds` (a pass takes about 30 s on 4 cores, so a window under a
        minute holds one); in each pass the job streams run concurrently,
        like a batch scheduler running the read jobs while the table is
        being written."""
        ops: list[dict] = []
        lock = threading.Lock()
        t_start = time.time()
        n_pass = 0
        last = 0.0
        while n_pass == 0 or time.time() - t_start + last <= seconds:
            t_pass = time.time()
            pass_dir = os.path.join(self.work_dir, f"ingest-{n_pass}")
            shutil.rmtree(pass_dir, ignore_errors=True)
            self._write_increments(pass_dir)
            streams, prep, state = self._streams(pass_dir)
            errors: list[BaseException] = []

            def stream(steps, n_pass=n_pass, prep=prep, state=state, pass_dir=pass_dir):
                try:
                    for name, fn in steps:
                        op = self._op(name, fn, n_pass, prep, state, pass_dir)
                        with lock:
                            ops.append(op)
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    errors.append(e)

            threads = [threading.Thread(target=stream, args=(st,)) for st in streams]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                raise errors[0]
            n_pass += 1
            last = time.time() - t_pass
        self.last_prepared = prep
        return ops

    def latencies_ms(self, ops: list[dict]) -> list[float]:
        return [1000.0 * (o["t1"] - o["t0"]) for o in ops]

    def latency_ms(self, ops: list[dict]) -> float:
        """The geometric mean of the job times: the jobs run from 0.3 to 14 s,
        so their median falls in a gap between two of them and jumps when
        two jobs swap places; the geometric mean weighs every job's relative
        change alike and moves smoothly."""
        return float(np.exp(np.mean(np.log(self.latencies_ms(ops)))))

    def ops_per_s(self, ops: list[dict], wall: float) -> float:
        """Jobs over the sum of the job times (the streams' walls added up):
        every job's time counts, so a faster read job or ingest step raises
        it by its share of the pass, and the table's hard links between the
        ingest steps do not count."""
        return len(ops) / sum(o["t1"] - o["t0"] for o in ops)

    # ---------------------------------------------------------------- checks

    def check(self, ops: list[dict]) -> None:
        snap = checks.Snapshot(os.path.join(self.inputs["prepared"], "data"))
        for op in ops:
            if "state" in op:
                st = op["state"]
                st["snap"] = checks.Snapshot(st["dir"])
                st["rows"], st["digest"] = st["snap"].n, st["snap"].digest()
        by_pass: dict[int, dict] = {}
        for op in ops:
            seen = by_pass.setdefault(op["pass"], {})
            try:
                op["fail"] = self._check_one(snap, op, seen)
            except Exception as e:  # noqa: BLE001 — a malformed result fails its op
                op["fail"] = f"check raised {type(e).__name__}: {e}"
            seen[op["name"]] = op

    def _check_one(self, snap, op: dict, seen: dict) -> str | None:
        name, out = op["name"], op["out"]
        if isinstance(out, tuple):
            return f"raised {out[1]}"
        if name == "batchjoin.join":
            got = {int(r.geom_id): int(r.n_pois) for r in out}
            for gid, (x1, y1, x2, y2) in enumerate(self.boxes):
                reg = checks.bbox_region(snap, [[x1, y1], [x2, y2]])
                lo = int(reg.def_in.sum())
                hi = lo + int((reg.amb & ~reg.def_in).sum())
                if not lo <= got.get(gid, 0) <= hi:
                    return f"geometry {gid}: {got.get(gid, 0)} matches, expected {lo}..{hi}"
            return None
        if name == "batchjoin.knn":
            per_q: dict[int, list[int]] = {}
            for r in out:
                per_q.setdefault(int(r.query_id), []).append(int(r.poi_id))
            if len(per_q) != self.N_PROBES:
                return f"{len(per_q)} probes answered of {self.N_PROBES}"
            for q in range(0, self.N_PROBES, 5):
                err = checks.check_knn(snap, float(self.probes[0][q]), float(self.probes[1][q]),
                                       10, per_q[q])
                if err:
                    return f"probe {q}: {err}"
            return None
        if name in ("tiles.corridor", "tiles.pixel_stats"):
            reg = checks.Region(snap, "linestring", self.line, self.line_buffer)
            lo_px = int(snap.px[reg.idx[reg.def_in]].sum())
            hi_px = lo_px + int(snap.px[reg.idx[reg.amb & ~reg.def_in]].sum())
            col = "total_px" if name == "tiles.corridor" else "px_count"
            got = sum(int(r[col]) for r in out)
            if not lo_px <= got <= hi_px:
                return f"{got} pixels in corridor tiles, expected {lo_px}..{hi_px}"
            return None
        if name == "tiles.heatmap":
            got = sum(int(r.n_points) for r in out)
            return None if got == snap.n else f"heatmap holds {got} points of {snap.n}"
        if name == "ann.brute_topk":
            return self._check_brute(out)
        if name in DIGESTED:
            return checks.check_digest(self.digests, name, checks.digest_rows(
                [tuple(r) for r in out]))
        if name.startswith("api.readback"):
            return self._check_readback(op, seen)
        return self._check_ingest(op, seen)

    def _check_brute(self, out) -> str | None:
        emb = self.inputs["embedding_matrix"]
        q = self.qvec / np.linalg.norm(self.qvec)
        cos = emb @ q / np.linalg.norm(emb, axis=1)
        kth = np.sort(cos)[-10]
        got = [int(r.vec_id) for r in out]
        if len(got) != 10 or len(set(got)) != 10:
            return f"brute top-k returned {len(got)} rows"
        if (cos[got] < kth - 1e-5).any():
            return "brute top-k returned a vector outside the exact top 10"
        return None

    def _check_readback(self, op: dict, seen: dict) -> str | None:
        state = seen.get("prepare.merge", {}).get("state")
        if state is None:
            return "no table state before the read-back"
        for req, fc in zip(self.readback, op["out"]):
            err = checks.check_request(state["snap"], req, fc, self.digests)
            if err:
                return err
        frag = seen.get("api.readback_fragmented")
        if op["name"] == "api.readback_compacted" and frag is not None:
            ids = [sorted(f["properties"]["osm_id"] for f in fc["features"]) for fc in op["out"]]
            ids0 = [sorted(f["properties"]["osm_id"] for f in fc["features"]) for fc in frag["out"]]
            if ids != ids0:
                return "read-back after compaction differs from before"
        return None

    def _check_ingest(self, op: dict, seen: dict) -> str | None:
        st = op.get("state")
        if st is None:
            return "no table after the step"
        inp, ch = self.inputs, self.changes
        n0 = len(inp["ingest_ids"])
        n_inc = sum(len(x[0]) for x in ch["increments"])
        n_new = len(ch["upserts"][0]) - int(np.isin(ch["upserts"][0], inp["ingest_ids"]).sum())
        want = {"prepare.prepare": n0, "streaming.stream_prepare": n0 + n_inc,
                "prepare.merge": n0 + n_inc + n_new - len(ch["deletes"]),
                "prepare.compact": n0 + n_inc + n_new - len(ch["deletes"])}[op["name"]]
        if st["rows"] != want:
            return f"{st['rows']} rows after {op['name']}, expected {want}"
        if op["name"] == "prepare.merge":
            snap = st["snap"]
            pos = np.searchsorted(snap.osm_id_sorted, ch["deletes"])
            pos = np.minimum(pos, snap.n - 1)
            if (snap.osm_id_sorted[pos] == ch["deletes"]).any():
                return "a deleted row survived the merge"
            ids, lon, lat, _ = ch["upserts"]
            i = snap.order[np.searchsorted(snap.osm_id_sorted, ids)]
            if (snap.osm_id[i] != ids).any() or (np.abs(snap.lon[i] - lon) > 1e-6).any() \
                    or (np.abs(snap.lat[i] - lat) > 1e-6).any():
                return "an upserted row is missing or not at its new position"
        if op["name"] == "prepare.compact":
            before = seen["prepare.merge"]["state"]
            if st["digest"] != before["digest"]:
                return "compaction changed the rows"
            if st["files"] > before["files"]:
                return "compaction added files"
        return None

    def stored_bytes_per_row(self) -> float:
        return dir_bytes(self.last_prepared) / max(checks.Snapshot(
            os.path.join(self.last_prepared, "data")).n, 1)


#: rows each ingest step changes (compaction rewrites, changing none)
ROWS_CHANGED = {
    "prepare.prepare": lambda inp, ch: len(inp["ingest_ids"]),
    "streaming.stream_prepare": lambda inp, ch: sum(len(x[0]) for x in ch["increments"]),
    "prepare.merge": lambda inp, ch: len(ch["upserts"][0]) + len(ch["deletes"]),
    "prepare.compact": lambda inp, ch: 0,
}

#: batch jobs checked against digests recorded from the seed code (fixed
#: corpus, so the digests do not depend on the run seed)
DIGESTED = ("text.lsh_md5", "text.lsh_xxh", "text.near_dup", "curation.repetition",
            "ann.batch_topk", "images.phash")
