"""The cached inputs: the prepared POI table, the curation corpus and the
ingest base table.

The cache directory is keyed on the engine's package sources and on the
generator, so a checkout only ever reads a table its own code wrote; a
change to the layout code gets a fresh table instead of a stale one.  The
build time is reported as information, never as `setup_s`.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

import gen

TABLE_ROWS = 60_000
INGEST_ROWS = 3_000
N_DOCS = 1_500
N_EMBEDDINGS = 1_000
N_IMAGE_BASES = 100
IMAGE_VARIANTS = 3
TABLE_ID_BASE = 1_000_000
INGEST_ID_BASE = 50_000_000

SIZES = {"table_rows": TABLE_ROWS, "ingest_rows": INGEST_ROWS, "documents": N_DOCS,
         "embeddings": N_EMBEDDINGS, "images": N_IMAGE_BASES * IMAGE_VARIANTS,
         "table_seed": gen.TABLE_SEED, "corpus_seed": gen.CORPUS_SEED,
         "ingest_seed": gen.INGEST_SEED}


def _generator_source() -> str:
    """The code and constants that make the cached inputs (the request and
    job generators may change without invalidating the table)."""
    fns = (gen._rng, gen.poi_coords, gen.poi_tags, gen.raw_poi_frame, gen.poi_table,
           gen.documents, gen.embeddings, gen.images, _write, build)
    consts = (gen.REGION, gen.CLUSTERS, gen.CLUSTER_SIGMA_M, gen.M_PER_DEG, gen.TAG_POOL,
              gen.EXTRA_TAGS, gen._WORDS)
    return "".join(inspect.getsource(f) for f in fns) + repr(consts)


def cache_key(root: str) -> str:
    h = hashlib.sha256(json.dumps(SIZES, sort_keys=True).encode())
    h.update(_generator_source().encode())
    files = []
    pkg = os.path.join(root, "openpoiservice_spark")
    for dp, _, fs in os.walk(pkg):
        files += [os.path.join(dp, f) for f in fs if f.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _write(df, path: str, row_group: int | None = None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   row_group_size=row_group)


def build(spark, cdir: str) -> dict:
    from openpoiservice_spark import prepare as P

    t0 = time.time()
    os.makedirs(cdir)
    raw = os.path.join(cdir, "raw.parquet")
    _write(gen.poi_table(TABLE_ROWS, gen.TABLE_SEED, TABLE_ID_BASE), raw, 8192)
    P.prepare(spark, raw, os.path.join(cdir, "prepared"))
    os.remove(raw)
    _write(gen.documents(N_DOCS), os.path.join(cdir, "documents.parquet"))
    _write(gen.embeddings(N_EMBEDDINGS), os.path.join(cdir, "embeddings.parquet"))
    _write(gen.images(N_IMAGE_BASES, IMAGE_VARIANTS).drop(columns=["base"]),
           os.path.join(cdir, "images.parquet"))
    ingest = gen.poi_table(INGEST_ROWS, gen.INGEST_SEED, INGEST_ID_BASE)
    _write(ingest, os.path.join(cdir, "ingest_raw.parquet"), 2048)
    meta = {"build_s": time.time() - t0, "sizes": SIZES}
    with open(os.path.join(cdir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def ensure(root: str, work: str) -> dict:
    """Build the inputs if this checkout's key has none; return their paths
    and the arrays the checks need.  The build runs in a child process, so
    its Spark session leaves nothing behind in the measuring process."""
    key = cache_key(root)
    cache = os.path.join(work, "cache")
    cdir = os.path.join(cache, key)
    built = False
    if not os.path.exists(os.path.join(cdir, "meta.json")):
        if os.path.isdir(cache):
            shutil.rmtree(cache)   # tables of other code versions, or a partial build
        subprocess.run([sys.executable, os.path.abspath(__file__), cdir + ".partial"],
                       check=True, stdout=subprocess.DEVNULL)
        os.rename(cdir + ".partial", cdir)
        built = True
    with open(os.path.join(cdir, "meta.json")) as f:
        meta = json.load(f)
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(cdir, "embeddings.parquet"), columns=["embedding"])
    rng = gen._rng(gen.INGEST_SEED, 1)
    ilon, ilat = gen.poi_coords(INGEST_ROWS, rng)
    return {
        "key": key, "built_now": built, "build_s": meta["build_s"],
        "prepared": os.path.join(cdir, "prepared"), "rows": TABLE_ROWS,
        "documents": os.path.join(cdir, "documents.parquet"),
        "embeddings": os.path.join(cdir, "embeddings.parquet"),
        "images": os.path.join(cdir, "images.parquet"),
        "n_embeddings": N_EMBEDDINGS,
        "embedding_matrix": np.array(emb.column("embedding").to_pylist(), dtype=np.float64),
        "ingest_raw": os.path.join(cdir, "ingest_raw.parquet"),
        "ingest_ids": np.arange(INGEST_ID_BASE, INGEST_ID_BASE + INGEST_ROWS, dtype=np.int64),
        "ingest_lon": ilon, "ingest_lat": ilat,
        "ingest_next_id": INGEST_ID_BASE + 10 * INGEST_ROWS,
    }


if __name__ == "__main__":
    # child process of ensure(): build into the directory given
    from openpoiservice_spark.session import get_spark

    session = get_spark(app="perfbench-inputs", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
                        shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    try:
        build(session, sys.argv[1])
    finally:
        session.stop()
