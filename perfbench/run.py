"""Seeded end-to-end benchmark of the series-family engine.

    python3 perfbench/run.py --workload tsdb_query --seed 1 --seconds 8 --trace 0

Runs one workload (``tsdb_query``, ``ingest_stream`` or ``llm_dedup``)
in a fresh process with its own ``local[4]`` session and one
closed-loop client thread, in whole rounds of its operation kinds for
``--seconds`` seconds, through the engine's public entry points only.
Set-up runs three times and reports the median. Every output is checked
after the timed loop; a mismatch, an exception or a session-config leak
counts as a failed operation.

The end-to-end times are scaled to a reference host by a probe, fixed
work that calls no engine code, timed in the same run (see ``probe``).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line above
it is the run record: input properties, the host probe (and, in a
traced run, the host canary) and the workload's headline figures under
their own names.

All scratch files live under ``.perfbench_work/`` in the working
directory and are removed at exit; a traced run also writes its spans
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUPS = 3
CORES = 4
PROBE_WARM = 1
PROBE_REPS = 2
#: a typical probe time on the host the benchmark was tuned on (4 vCPUs,
#: Intel Xeon, OpenJDK 17): end-to-end operation figures are scaled to it
PROBE_REF_S = 0.3

#: session keys a workload must leave as it found them
GUARDED_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


def canary(spark) -> dict[str, float]:
    """Fixed work independent of the engine, the same work as the legacy
    bench's calibration: a JVM range sum over all cores, a single-thread
    Python loop and a 2M-row shuffle aggregate. Run on a warm JVM, as the
    legacy bench does: on a cold one the range sum times the JIT, ~8x
    slower."""
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 7 % 1000)").collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * 31 % 97
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 32).selectExpr("id % 10000 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").selectExpr("sum(`sum(v)`)").collect()
    sh = time.perf_counter() - t0
    return {"host.canary_jvm_s": jvm, "host.canary_py_s": py, "host.canary_shuffle_s": sh}


def probe_input() -> str:
    """The probe's fixed input, the same in every run whatever the seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    n = 50_000
    path = os.path.join(WORK, "probe.parquet")
    pq.write_table(pa.table({"k": rng.integers(0, 1000, n), "v": rng.integers(0, 1 << 20, n)}),
                   path, row_group_size=n // CORES)
    return path


def probe(spark, path: str) -> tuple[float, float]:
    """One rep of fixed work that calls no engine code, shaped like a
    small operation: a freshly analysed Spark query over a small parquet
    file (planning, a scan over every core, a shuffle, a collect), then a
    single-thread Python loop. Returns (Spark s, Python s)."""
    t0 = time.perf_counter()
    spark.read.parquet(path).where("v % 7 < 5").groupBy("k").agg(
        {"v": "sum", "*": "count"}
    ).collect()
    t1 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * 31 % 97
    return t1 - t0, time.perf_counter() - t1


def conf_snapshot(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in GUARDED_KEYS}


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the JVM behind the py4j gateway."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the JVM process")


def start_spark():
    from boostdb_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed-size heap: peak RSS then tracks the work, not the
            # collector's heap-resizing decisions; no perf-data file in the
            # system temp directory
            "spark.driver.extraJavaOptions": "-Xms2g -XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(WORK, "tmp"),
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Loop:
    """One closed-loop client: runs the workload's next operation as soon
    as the previous one returned. Given a probe, it runs one untimed probe
    rep after every second operation (the first, the third, ...) and at
    each pause a pipeline makes between its stages, so the probe samples
    the host while the operations run."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.probe = None
        self.probes: list[tuple[float, float]] = []
        self.paused = 0.0
        self.errors: list[str] = []

    def pause(self) -> None:
        """One probe rep inside an operation, off its clock. Traced runs
        skip it: its jobs would land in the operation's job group."""
        if self.probe and not self.tracer.enabled:
            t0 = time.perf_counter()
            self.probes.append(self.probe())
            self.paused += time.perf_counter() - t0

    def one(self, kind: str, fn, rows: int) -> tuple[str, float, bool, int]:
        self.paused = 0.0
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tracer.span(kind, "op"):
                fn()
        except Exception:
            ok = False
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
        sample = (kind, time.perf_counter() - t0 - self.paused, ok, rows)
        if self.tracer.enabled:
            self.tracer.finish_op()
        return sample

    def run(self, ops, kinds, seconds: float) -> list:
        """Whole rounds (every kind of operation once, in the sequence's
        order) until ``seconds`` have passed; returns ``(kind, wall s, ok,
        rows)`` per operation."""
        out = []
        deadline = time.perf_counter() + seconds
        while not out or time.perf_counter() < deadline or len(out) % len(kinds):
            out.append(self.one(*next(ops)))
            if self.probe and len(out) % 2:
                self.probes.append(self.probe())
        return out


def end_to_end(lat: dict, setup_s: float, rss: float, probe_s: float) -> dict:
    """Operation latency and rate in reference-host terms: scaled by how
    much longer than ``PROBE_REF_S`` the probe took in this run. Set-up
    time is not scaled: the pipelines' set-up is plain Python, which host
    drift slows far less than it slows the probe."""
    k = PROBE_REF_S / probe_s
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (lat["p50_ms"] * k, "ms"),
        "ops_per_s": (lat["ops_per_s"] / k, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }


def per_layer(tracer, workload, samples: list, extra: dict) -> dict:
    from spans import COUNTERS
    from workloads import SELF_LAYERS

    ops = list(tracer.op_counters.values())
    out: dict[str, tuple[float, str]] = {}
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "files_read": "count", "partitions_read": "count"}
    for k in COUNTERS:
        if k == "rows_scanned":
            continue
        unit = units.get(k, "ms" if k.endswith("_ms") else "B")
        out[f"spark.{k}"] = (statistics.fmean(c[k] for c in ops) if ops else 0.0, unit)
    scanned = sum(c["rows_scanned"] for c in ops)
    out["spark.rows_scanned_per_result"] = (scanned / max(1, workload.result_rows), "ratio")
    selfs = tracer.self_times()
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms"] = (selfs.get(layer, 0.0) / max(1, len(ops)), "ms")
    wall = sum(s[1] for s in samples)
    out["trace.overhead_frac"] = (tracer.hook_s / wall if wall else 0.0, "ratio")
    # the layers' self times partition the operations' walls
    out["trace.self_cover_frac"] = (sum(selfs.values()) / 1e3 / wall if wall else 0.0, "ratio")
    for k, v in extra.items():
        out[k] = v
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads  # noqa: E402  (needs the engine on sys.path)
    from spans import Tracer

    wl_cls = workloads.REGISTRY.get(args.workload)
    if wl_cls is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.REGISTRY)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    phases = {"import": time.perf_counter() - T_START}
    spark, session_s = start_spark()
    phases["session"] = session_s
    try:
        return _run(spark, session_s, wl_cls, args, Tracer, phases)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


def _run(spark, session_s, wl_cls, args, Tracer, phases: dict) -> int:
    tracer = Tracer(spark, enabled=False)
    wl = wl_cls(spark, tracer, WORK, args.seed)
    before = conf_snapshot(spark)

    # the probe's warm-up also takes a fresh JVM's first-query cost, which
    # would otherwise land in the first set-up
    t0 = time.perf_counter()
    ppath = probe_input()
    for _ in range(PROBE_WARM):
        probe(spark, ppath)
    phases["probe"] = time.perf_counter() - t0

    setup_times = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        wl.setup(k)
        setup_times.append(time.perf_counter() - t0)
    setup_s = statistics.median(setup_times)
    phases["setup"] = sum(setup_times)

    # a fresh JVM runs its first queries several times slower
    loop = Loop(tracer)
    wl.pause = loop.pause
    t0 = time.perf_counter()
    for op in wl.warmup_ops():
        loop.one(*op)
    warmup_s = phases["warmup"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    tracer.enabled = bool(args.trace)
    loop.probe = lambda: probe(spark, ppath)
    samples = loop.run(wl.ops(), wl.kinds, args.seconds)
    tracer.enabled = False
    phases["loop"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    probes = loop.probes + [probe(spark, ppath) for _ in range(PROBE_REPS)]
    phases["probe"] += time.perf_counter() - t0
    # the canary attributes drift in the per-layer record; the probe alone
    # scales the end-to-end figures, so timed runs skip the canary's ~2 s
    host = canary(spark) if args.trace else {}
    phases["canary"] = sum(host.values())

    t0 = time.perf_counter()
    failures = list(loop.errors)
    failures += wl.check()
    phases["check"] = time.perf_counter() - t0
    leaks = {k: (before[k], v) for k, v in conf_snapshot(spark).items() if v != before[k]}
    if leaks:
        failures.append(f"session config leaked: {leaks}")
    attempted = len(samples) + 1  # + the config guard
    failed = min(len(failures), attempted)

    rss = jvm_peak_rss_mb(spark)
    lat = wl.latency(samples)
    # the probe speeds up as the JVM warms, so a median would jump between
    # the early and the late reps; the mean without the two extremes does not
    probe_s = statistics.fmean(sorted(a + b for a, b in probes)[1:-1])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": wl.properties,
        "headline": wl.headline(samples, setup_s, rss, failed / attempted),
        "latency": lat,
        "by_kind": wl.mix(samples),
        "setup_runs_s": setup_times,
        "warmup_s": warmup_s,
        "session.start_s": session_s,
        **host,
        "host.probe_s": probe_s,
        "probes": probes,
        "phase_s": phases,
        "failures": failures[:10],
    }
    if args.trace:
        extra = {"session.start_s": (session_s, "s"), "host.probe_s": (probe_s, "s")}
        extra.update({k: (v, "s") for k, v in host.items()})
        extra.update(wl.layer_metrics())
        metrics = per_layer(tracer, wl, samples, extra)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(), f)
    else:
        metrics = end_to_end(lat, setup_s, rss, probe_s)
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
