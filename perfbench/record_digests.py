#!/usr/bin/env python3
"""Write the reference digests of the outputs that have no cheap oracle (the
curation jobs on the fixed corpus, and the `list` request) to
perfbench/digests.json.  It checks nothing: run it once, from the root of a
checkout of the code the digests should come from.

    python3 perfbench/record_digests.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402


def main() -> int:
    work = os.path.join(run.ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, f"digests-{os.getpid()}")
    run._environment(run_dir, trace=False)
    import checks
    import inputs
    import workloads
    from openpoiservice_spark.api import PoiEngine

    try:
        inp = inputs.ensure(run.ROOT, work)
        spark = run._session()
        wl = workloads.Batch(inp, 0, work_dir=os.path.join(run_dir, "batch"))
        wl.open(spark)
        streams, _, _ = wl._streams(os.path.join(run_dir, "batch"))
        digests = {name: checks.digest_rows([tuple(r) for r in fn()])
                   for steps in streams for name, fn in steps if name in workloads.DIGESTED}
        digests["list"] = checks.digest_obj(
            PoiEngine(spark, inp["prepared"]).request({"request": "list"}))
        spark.stop()
    finally:
        run._stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(checks.DIGESTS_PATH, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
