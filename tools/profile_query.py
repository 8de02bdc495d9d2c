"""Stage-level profiler for one registered query (guide §1: measure first).

Builds the query, warms it once, then times ``runs`` noop-sink executions
while pulling per-stage metrics from the Spark UI REST API — the local-mode
equivalent of reading the Stages tab.  Prints, per stage of the LAST run:
stage name, wall duration, executor run time, task count, shuffle
read/write bytes, input bytes — enough to attribute a query's seconds to
scan vs shuffle vs Python boundary without guessing.

Usage: python tools/profile_query.py <query> [sf_dir] [runs]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

# the checkout this file sits in, whatever the working directory
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from queue_system_simulator_spark.plans import QUERIES  # noqa: E402
from queue_system_simulator_spark.session import get_spark  # noqa: E402

UI_PORT = 4099


def rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    app_id = spark.sparkContext.applicationId
    spec = QUERIES[name]

    # warmup (codegen, parquet footers, Python worker pool)
    spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    walls = []
    for i in range(runs):
        first_stage_before = {s["stageId"] for s in rest(f"applications/{app_id}/stages")}
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"{name} run {i}")
        df = spec.build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
        spark.catalog.clearCache()
    print(f"query={name} sf_dir={sf_dir} walls={[round(w, 3) for w in walls]}")

    # stages of the LAST run only
    stages = [
        s
        for s in rest(f"applications/{app_id}/stages")
        if s["stageId"] not in first_stage_before and s["status"] != "SKIPPED"
    ]
    stages.sort(key=lambda s: s["stageId"])
    total_dur = 0.0
    print(
        f"{'id':>4} {'dur_s':>7} {'run_s':>7} {'tasks':>5} {'in_MB':>7} "
        f"{'shR_MB':>7} {'shW_MB':>7}  name"
    )
    for s in stages:
        sub = s.get("submissionTime")
        comp = s.get("completionTime")
        dur = 0.0
        if sub and comp:
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t_sub = time.mktime(time.strptime(sub[:23], "%Y-%m-%dT%H:%M:%S.%f"))
            t_cmp = time.mktime(time.strptime(comp[:23], "%Y-%m-%dT%H:%M:%S.%f"))
            dur = t_cmp - t_sub
        total_dur += dur
        nm = s["name"].split("\n")[0][:70]
        print(
            f"{s['stageId']:>4} {dur:>7.3f} {s['executorRunTime'] / 1e3:>7.3f} "
            f"{s['numCompleteTasks']:>5} {s['inputBytes'] / 1e6:>7.2f} "
            f"{s['shuffleReadBytes'] / 1e6:>7.2f} {s['shuffleWriteBytes'] / 1e6:>7.2f}  {nm}"
        )
    print(f"sum stage wall = {total_dur:.3f}s over {len(stages)} stages")
    spark.stop()


if __name__ == "__main__":
    main()
