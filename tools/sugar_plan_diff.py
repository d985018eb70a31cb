"""Compare the plans the dialect front and the series-family read path
produce in two checkouts.

For every suite entry that calls ``sugar.query`` / ``sugar.plan``,
``SeriesFamily.fetch``, an ``operators.timeseries`` (``ts_ops``),
``operators.dedup`` or ``operators.similarity`` function or
``text.tf_idf_topk``, for the
seven ``tsdb_query`` shapes (three dialect queries, four built on
``fetch``) and for the ``llm_dedup`` k-NN graph shape, each checkout runs the entry's statement once (``collect``) and prints
its optimized logical plan and its final physical plan: the adaptive
plan as it ran (``isFinalPlan=true``), so a join that AQE turned into a
broadcast at run time reads as one. Expression ids, plan ids, RDD and
application ids, temp-view names and input paths are removed. AQE
re-plans from run-time statistics, so an entry may show another final
plan on unchanged code (such as the other build side of a broadcast
join between two near-equal shuffle stages); run the tool twice before
reading such a change. Entries are then listed as
``identical``, ``logical-only`` (the same physical plan under a
different optimized logical plan, such as an AND tree grouped another
way) or ``changed`` (the physical plan differs, or the entry failed),
with a unified diff for each entry that is not identical.
A ``localCheckpoint``ed frame shows in a plan only as an RDD scan, so
the sub-plan behind a checkpoint is not compared.

Run (each checkout runs in its own process, on its own code):

    python tools/sugar_plan_diff.py PARENT_CHECKOUT CHANGE_CHECKOUT \\
        --sf TESTDATA_SF_DIR --out OUT_DIR

writes ``summary.txt`` and one ``<entry>.diff`` per entry that is not
identical.
"""

from __future__ import annotations

import argparse
import difflib
import inspect
import json
import re
import subprocess
import sys
import tempfile
from pathlib import Path

_NORMALIZE = [
    (re.compile(r"#\d+L?"), ""),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"_pyspark_[0-9a-f]{32}"), "_pyspark_view"),
    (re.compile(r"\bx_\d+\b"), "x_"),  # DataFrame-API lambda variables
    (re.compile(r"RDD\[\d+\]"), "RDD"),  # checkpointed frames' RDD ids
    # a checkpointed frame's call site, which PySpark may or may not set
    (re.compile(r"(RDD at \w+) at \S+:\d+"), r"\1"),
    (re.compile(r"local-\d{6,}"), "local-app"),  # application ids in paths
    # temporary directories (tempfile.mkdtemp's 8 random characters)
    (re.compile(r"(/boost_[a-z_]*?_)[a-z0-9_]{8}(?=/)"), r"\1tmp"),
    # a final adaptive plan numbers its query stages and codegen stages in
    # the order they ran
    (re.compile(r"(QueryStage\nOutput \[\d+\]: \[[^\]]*\]\nArguments: )\d+"), r"\1N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
]


def _normalize(text: str) -> str:
    for pat, rep in _NORMALIZE:
        text = pat.sub(rep, text)
    return text.strip() + "\n"


def _physical(plan: str) -> str:
    return plan.partition("== Physical Plan ==")[2]


def _tsdb_frames(spark, checkout: Path, work: str) -> dict:
    """The tsdb_query shapes over a small written family: the dialect
    queries, and the fetch-based ones built as the workload builds
    them."""
    sys.path.insert(0, str(checkout / "perfbench"))
    from pyspark.sql import functions as F
    from workloads.tsdb_query import BUCKET_S, DIALECT, FETCH_PAGE

    from boostdb_spark.operators import timeseries as tsops
    from boostdb_spark.plans import sugar
    from boostdb_spark.sources import SeriesFamily

    day, t0 = 86_400 * 10**9, 1_704_067_200 * 10**9
    fam = SeriesFamily(spark, "bench", "metrics", work)
    fam.write(spark.createDataFrame(
        [(f"s{s}", t0 + i * day // 4, float(i), f"h{i % 5:06d}", f"dc{s % 4}", "prod")
         for s in range(4) for i in range(40)],
        "series string, ts long, value double, host string, dc string, env string",
    ))
    fam.register()
    binding = sugar.SeriesFamilyBinding(view=fam.view_name)
    p = {"a": "s0", "b": "s1", "c": "s2"}
    start, end = t0 + 2 * day, t0 + 5 * day
    out = {}
    for kind, sql in DIALECT.items():
        params = {"h": "h000001"} if kind == "attr_filter" else {"x": 3.5}
        out[f"tsdb_query:{kind}"] = lambda sql=sql, params=params: sugar.plan(
            spark, sugar.parse(sql.format(**p)), binding,
            start=start, end=end, params=params,
        )

    def fetch(series, ordered=False):
        return fam.fetch(series, start, end, ordered=ordered)

    out["tsdb_query:bucket_agg"] = lambda: tsops.bucket_agg(
        fetch(["s0", "s1", "s2", "s3"]), BUCKET_S, ["series"], [
            F.count(F.lit(1)).alias("n"), F.min("value").alias("lo"),
            F.max("value").alias("hi"), F.sum("value").alias("total"),
        ])
    out["tsdb_query:rate"] = lambda: tsops.rate(
        fetch("s0").select("series", "ts", "value")
    ).groupBy("series").agg(
        F.count("rate").alias("n"), F.min("rate").alias("lo"), F.max("rate").alias("hi"),
    )
    out["tsdb_query:asof_join"] = lambda: tsops.asof_join(
        fetch("s0").select("dc", "ts", "value"), fetch("s1").select("dc", "ts", "value"),
        on=["dc"],
    ).agg(
        F.count(F.lit(1)).alias("n"), F.count("value_right").alias("matched"),
        F.max("ts_right").alias("last_ts"),
        F.sum(F.col("value") - F.col("value_right")).alias("spread"),
    )
    out["tsdb_query:fetch_ordered"] = lambda: fetch(["s0", "s1"], ordered=True).select(
        "series", "ts", "value", "host"
    ).limit(FETCH_PAGE)
    return out


def _llm_dedup_frames(spark, checkout: Path, work: str) -> dict:
    """The ``llm_dedup`` k-NN graph over the workload's generated
    embeddings (seed 0), read back from parquet as the workload reads
    them."""
    sys.path.insert(0, str(checkout / "perfbench"))
    import gen
    import numpy as np
    import pyarrow.parquet as pq
    from workloads.llm_dedup import DIM, DUP_FRAC, KNN_K, LABELS, N_VECS

    from boostdb_spark.operators import similarity

    path = f"{work}/vecs.parquet"
    pq.write_table(
        gen.embeddings(np.random.default_rng([0, 1]), N_VECS, DIM, LABELS, DUP_FRAC),
        path,
    )
    vecs = spark.read.parquet(path)
    return {"llm_dedup:knn_graph": lambda: similarity.knn_graph(
        vecs, k=KNN_K, group_col="label"
    )}


def dump(checkout: Path, sf: str, out_json: str) -> None:
    """Run every compared entry of ``checkout`` and write its plans."""
    sys.path.insert(0, str(checkout))
    from boostdb_spark import suite
    from boostdb_spark.session import get_spark

    spark = get_spark(app_name="sugar-plan-diff")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    frames = {
        name: (lambda fn=fn: fn(spark, sf))
        for name, fn in sorted(suite.spark_queries().items())
        if re.search(
            r"sugar\.(query|plan)\(|\.fetch\(|asof_join\(|\bdd\.\w+\(|operators\.dedup import"
            r"|\bsim\.\w+\(|\btx\.tf_idf_topk\(|\bts_ops\.\w+\(",
            inspect.getsource(fn),
        )
    }
    plans = {}
    with tempfile.TemporaryDirectory() as work:
        frames.update(_tsdb_frames(spark, checkout, work))
        frames.update(_llm_dedup_frames(spark, checkout, work))
        for name, make in frames.items():
            try:
                df = make()
                df.collect()  # AQE settles the final plan as it runs
                qe = df._jdf.queryExecution()
                plans[name] = _normalize(
                    "== Optimized Logical Plan ==\n" + qe.optimizedPlan().toString()
                    + "\n== Physical Plan ==\n" + qe.explainString(mode)
                ).replace(work, "<family-dir>").replace(sf.rstrip("/"), "<sf>").replace(
                    str(checkout), "<checkout>"
                )
            except Exception as e:  # an entry that fails is a change too
                plans[name] = f"FAILED: {type(e).__name__}: {e}\n"
    Path(out_json).write_text(json.dumps(plans, indent=1, sort_keys=True))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--sf", required=True, help="testdata scale-factor directory")
    ap.add_argument("--out", type=Path, default=Path("plans/sugar_plan_diff"))
    ap.add_argument("--dump", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.dump:  # child process: parent = checkout, change = output json
        dump(a.parent.resolve(), a.sf, str(a.change))
        return
    sides = []
    with tempfile.TemporaryDirectory() as tmp:
        for label, checkout in (("parent", a.parent), ("change", a.change)):
            js = Path(tmp) / f"{label}.json"
            subprocess.run(
                [sys.executable, __file__, str(checkout.resolve()), str(js),
                 "--sf", a.sf, "--dump"],
                check=True, cwd=checkout,
            )
            sides.append(json.loads(js.read_text()))
    before, after = sides
    a.out.mkdir(parents=True, exist_ok=True)
    lines, counts = [], dict.fromkeys(("identical", "logical-only", "changed"), 0)
    for name in sorted(set(before) | set(after)):
        b, c = before.get(name, "MISSING\n"), after.get(name, "MISSING\n")
        if b == c:
            kind = "identical"
        elif _physical(b) and _physical(b) == _physical(c):
            kind = "logical-only"
        else:
            kind = "changed"
        counts[kind] += 1
        lines.append(f"{kind:<13}{name}")
        if kind != "identical":
            diff = difflib.unified_diff(
                b.splitlines(True), c.splitlines(True), "parent", "change", n=2
            )
            (a.out / f"{name.replace(':', '__')}.diff").write_text("".join(diff))
    lines.append("\n" + ", ".join(f"{n} {kind}" for kind, n in counts.items()))
    (a.out / "summary.txt").write_text("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
