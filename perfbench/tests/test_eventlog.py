"""The event-log parser attributes Spark's own stage totals to the spans
that launched them, on a tiny prepared table."""

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("evlog")
    events = tmp / "events"
    events.mkdir()
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_LOCAL_DIRS", str(tmp / "local"))
        mp.setenv("PYTHONPATH", os.pathsep.join([HERE, ROOT, os.environ.get("PYTHONPATH", "")]))
        mp.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
        mp.setenv("PYSPARK_SUBMIT_ARGS", (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"))
        return _run_traced(tmp, events)


def _run_traced(tmp, events):
    from pyspark.sql import functions as F

    from openpoiservice_spark import prepare
    from openpoiservice_spark.session import get_spark

    raw = str(tmp / "raw.parquet")
    pq.write_table(pa.Table.from_pandas(gen.poi_table(600, 1, 1000), preserve_index=False), raw)
    spark = get_spark(app="perfbench-test", master="local[2]", shuffle_partitions=2)
    try:
        prepare.prepare(spark, raw, str(tmp / "prepared"))
        sc = spark.sparkContext
        tr = tracing.Tracer(sc)
        pois = prepare.read_prepared(spark, str(tmp / "prepared"))   # runs a listing job
        st = sc.statusTracker()
        before = set(st.getJobIdsForGroup())

        @F.pandas_udf("double")
        def plus(x: pd.Series) -> pd.Series:
            return x + 1.0

        with tr.span("scan"):
            pois.select("lon").collect()
        with tr.span("shuffle"):
            pois.groupBy("pcell").count().collect()
        with tr.span("python"):
            spark.range(0, 500, numPartitions=2).select(plus(F.col("id").cast("double"))).collect()
        # Spark's own count of the tasks the traced jobs ran (skipped
        # stages ran none)
        n_tasks = 0
        for jid in set(st.getJobIdsForGroup()) - before:
            for sid in st.getJobInfo(jid).stageIds:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks == info.numTasks:
                    n_tasks += info.numTasks
        app = sc.applicationId
    finally:
        spark.stop()
    files = sum(1 for _, _, fs in os.walk(tmp / "prepared" / "data")
                for f in fs if f.endswith(".parquet"))
    return tr, tracing.EventLog(str(events / app)), n_tasks, files


def test_spans_own_their_jobs(traced):
    tr, ev, _, _ = traced
    names = {s["id"]: s["name"] for s in tr.spans}
    assert {names[s] for s in ev.spans if ev.spans[s]["jobs"]} == {"scan", "shuffle", "python"}
    for sid, data in ev.spans.items():
        span = tr.spans[sid]
        for a, b in data["jobs"]:
            assert span["start"] - 0.01 <= a <= b <= span["end"] + 0.01


def test_stage_totals(traced):
    tr, ev, n_tasks, _ = traced
    by_name = {tr.spans[s]["name"]: d for s, d in ev.spans.items()}
    assert sum(len(d["tasks"]) for d in ev.spans.values()) == n_tasks
    assert sum(t["input_bytes"] for t in by_name["scan"]["tasks"]) > 0
    sh = by_name["shuffle"]["tasks"]
    assert sum(t["shuffle_write"] for t in sh) == sum(t["shuffle_read"] for t in sh) > 0
    assert all(t["run_ms"] >= 0 and t["queue_ms"] >= 0 for d in ev.spans.values() for t in d["tasks"])


def test_python_rows_and_files(traced):
    tr, ev, _, files = traced
    by_name = {tr.spans[s]["name"]: d for s, d in ev.spans.items()}
    sql = by_name["python"]["sql"]
    rows_in = sum(v for k, v in sql.items() if k.startswith("python.") and k.endswith("/rows_in"))
    rows_out = sum(v for k, v in sql.items()
                   if k.startswith("python.") and k.endswith("/number of output rows"))
    assert rows_in == 500
    assert rows_out == 500
    assert not any(k.startswith("python.") for k in by_name["scan"]["sql"])
    read = sum(v for k, v in by_name["scan"]["sql"].items() if k.endswith("/number of files read"))
    assert read == files
