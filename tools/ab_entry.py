"""Interleaved A/B probe for suite entries across checkouts.

Usage: python tools/ab_entry.py <repo_dir> <entry> [<entry> ...]

Runs in a FRESH process per invocation (the caller interleaves
invocations across checkouts — the bd9bbbc host-noise methodology):
imports the suite from <repo_dir>, and bench.py's ``Runner`` and
machine canary (``_calibration``) from the checkout that holds this
file, so every checkout is timed and profiled by the same code. Each
entry runs once as a warm-up (the layout build the bench amortizes in
WARMUP), then is timed a second time through the noop sink. One JSON
line per entry on stdout: the canary, both walls, and the timed run's
Spark profile (``spans.COUNTERS`` plus its wall) — walls are
comparable across processes at matched canary.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from pathlib import Path


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    # the timed checkout's engine: Python workers import it from the
    # working directory, and the driver imports the package before
    # bench.py, so the suite bench.py imports comes from it too
    os.chdir(repo)
    sys.path.insert(0, repo)
    from boostdb_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-entry")
    runner = bench.Runner(spark, sf)
    calibration = bench._calibration(spark)
    for name in sys.argv[2:]:
        warm = runner.entry(name, f"warmup/{name}")
        timed = runner.entry(name)
        print(
            json.dumps(
                {
                    "repo": os.path.basename(repo.rstrip("/")),
                    "entry": name,
                    "calibration": calibration,
                    "warm_s": warm,
                    "timed_s": timed,
                    "profile": runner.profile[name],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
