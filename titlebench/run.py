#!/usr/bin/env python3
"""Title-engine benchmark.

    python3 titlebench/run.py --workload titles_unique --seed 1 --seconds 22 --trace 0

Run from the root of a checkout.  One closed-loop client in one process
runs fixed-size passes of the workload's query for ``--seconds`` and checks
every pass against a driver-side ``match_titles`` reference rollup.  The
last line of stdout is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it is a readable summary with units, ``failed_pass_ratio`` and the
host-speed probe.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zlib
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import sparkenv  # noqa: E402
from tracing import REPLAY_UNITS, Tracer, replay  # noqa: E402

SETUPS = 3  # set-up samples per run; setup_s is their median
MIN_PASSES = 3  # timed passes, after the warm pass
MAX_PASSES = 16  # inputs generated per run, warm pass included
MAX_RUN_S = 150.0  # stop starting passes after this, whatever --seconds says
REPLAY_ROWS = 2000  # rows of a pass replayed through each kernel layer
PROBE_LOOPS = 2_000_000
T0 = time.perf_counter()

# name -> (path, input maker).  A maker returns one list of titles per
# pass; every pass reads fresh titles, so no pass replays a cache that an
# earlier pass filled with the same titles.
WORKLOADS = {
    # Scraped feed: nearly every title distinct, so text and tfidf do the
    # work and per-batch dedup saves nothing.
    "titles_unique": ("v1", lambda seed, corpus: gen.distinct_slices(seed, corpus, MAX_PASSES, 12000)),
    # DataFrame form: 40 rows per distinct title; materialize, the posting
    # join and its shuffle dominate and the kernel only vectorizes queries.
    "titles_scale_form": ("v2", lambda seed, corpus: gen.repeated_slices(seed, corpus, MAX_PASSES, 400, 40)),
}

V1_QUERY = ("SELECT split_part(standardize_title(title), ' - ', 2) AS k, count(*) AS n, "
            "sum(crc32(title)) AS crc FROM {view} GROUP BY 1")


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed diagnostic."""
    t0 = time.perf_counter()
    x = 0
    for i in range(PROBE_LOOPS):
        x += i
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------

def _write_parts(path: str, rows: list, slots: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for j, part in enumerate(gen.split(rows, slots)):
        pq.write_table(pa.table({"title": pa.array(part, pa.string())}),
                       os.path.join(path, f"part-{j}.parquet"))


def generate(workload: str, seed: str, slots: str, work: str) -> None:
    """Write every pass input and the warm-up table as ``slots`` parquet
    files each.  Runs in a child process, so the generator's memory never
    counts in the driver's peak RSS."""
    from duckdb_title_mapper_spark.kb import load_kb
    from duckdb_title_mapper_spark.reference_goldens import CORPUS_104

    corpus = load_kb().corpus
    slots = int(slots)
    for i, rows in enumerate(WORKLOADS[workload][1](int(seed), corpus)):
        _write_parts(os.path.join(work, "input", f"pass-{i}"), rows, slots)
    _write_parts(os.path.join(work, "input", "warm"), list(CORPUS_104) * 20, slots)


def read_parts(path: str) -> list[list]:
    import pyarrow.parquet as pq

    return [pq.read_table(os.path.join(path, f)).column("title").to_pylist()
            for f in sorted(os.listdir(path))]


# --------------------------------------------------------------------------
# Set-up
# --------------------------------------------------------------------------

def reset_engine() -> None:
    """Drop the engine's in-process memos so that a repeated set-up pays
    the KB load, index build and broadcast again, as a new process does."""
    from duckdb_title_mapper_spark import kb
    from duckdb_title_mapper_spark.functions import text
    from duckdb_title_mapper_spark.operators import standardize

    kb.load_kb.cache_clear()
    text._stem_cached.cache_clear()
    standardize._INDEX = None
    standardize._UDF_CACHE.clear()


def warm_up(spark, work: str, slots: int) -> bool:
    """Run the CORPUS_104 goldens through the SQL function until every task
    slot has a Python worker that produced a result.  Returns whether every
    golden matched."""
    from duckdb_title_mapper_spark.reference_goldens import CORPUS_104

    df = spark.read.schema("title string").parquet(os.path.join(work, "input", "warm"))
    ok = True
    for attempt in range(5):
        rows = df.selectExpr("title", "standardize_title(title) AS out").collect()
        ok = ok and {r.title for r in rows} == set(CORPUS_104) and all(
            CORPUS_104[r.title] == r.out for r in rows)
        if sparkenv.worker_count(spark) >= slots:
            break
    log(f"warm-up: {attempt + 1} queries, {sparkenv.worker_count(spark)} workers")
    return ok


def set_up(work: str, slots: int, tracer: Tracer | None = None):
    """Session start, ``register()`` and warm-up; returns the session, the
    phase times and whether the goldens matched."""
    import duckdb_title_mapper_spark as engine

    with tracer.span("setup") if tracer else nullcontext():
        t0 = time.perf_counter()
        spark = sparkenv.start_session(work, slots)
        t1 = time.perf_counter()
        if tracer is not None:
            def record_size(rec, bc):
                rec["bytes"] = os.path.getsize(bc._path)
            tracer.wrap(spark.sparkContext, "broadcast", "sc.broadcast", record_size)
        engine.register(spark)
        t2 = time.perf_counter()
        ok = warm_up(spark, work, slots)
        t3 = time.perf_counter()
    return spark, {"session": t1 - t0, "register": t2 - t1, "warmup": t3 - t2,
                   "total": t3 - t0}, ok


# --------------------------------------------------------------------------
# Passes
# --------------------------------------------------------------------------

def category(out: str) -> str:
    """Spark's ``split_part(out, ' - ', 2)``."""
    parts = out.split(" - ")
    return parts[1] if len(parts) > 1 else ""


def rollup(titles, outs, key) -> dict:
    """key -> (row count, sum of crc32 of non-NULL titles)."""
    acc: dict = {}
    for t, o in zip(titles, outs):
        k = None if o is None else key(o)
        n, crc = acc.get(k, (0, None))
        if t is not None:
            crc = (crc or 0) + zlib.crc32(t.encode("utf-8"))
        acc[k] = (n + 1, crc)
    return acc


def kernel_pass(parts: list[list]) -> tuple[list, list[tuple[int, float]]]:
    """``match_titles`` in the driver over the pass input, batch by batch
    as the v1 UDF sees it; returns every row's output and each batch's
    (rows, seconds)."""
    from duckdb_title_mapper_spark.operators.standardize import match_titles

    outs: list = []
    batches = []
    for part in parts:
        for b in range(0, len(part), sparkenv.ARROW_BATCH_ROWS):
            batch = part[b:b + sparkenv.ARROW_BATCH_ROWS]
            t0 = time.perf_counter()
            res = match_titles([t for t in batch if t is not None])
            batches.append((len(batch), time.perf_counter() - t0))
            it = iter(res)
            outs.extend(None if t is None else next(it) for t in batch)
    return outs, batches


def spark_pass(spark, path: str, df, view: str):
    """Build and run the workload's rollup; returns (rows, plan seconds)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    if path == "v1":
        q = spark.sql(V1_QUERY.format(view=view))
    else:
        from duckdb_title_mapper_spark.operators.standardize import standardize_titles_df

        out = standardize_titles_df(spark, df, "title")
        q = out.groupBy(F.col("standardized_title").alias("k")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.crc32("title")).alias("crc"))
    plan_s = time.perf_counter() - t0
    return q.collect(), plan_s


def rss_peak(spark) -> float:
    pids = [os.getpid()] + sparkenv.python_workers(spark)
    return max(m for m in map(sparkenv.peak_rss_mb, pids) if m is not None)


def run_passes(spark, workload: str, work: str, seconds: float, slots: int,
               tracer: Tracer | None, t_start: float) -> dict:
    path = WORKLOADS[workload][0]
    inputs = sorted((d for d in os.listdir(os.path.join(work, "input")) if d.startswith("pass-")),
                    key=lambda d: int(d.split("-")[1]))
    frames = []
    for i, d in enumerate(inputs):
        df = spark.read.schema("title string").parquet(os.path.join(work, "input", d))
        df.createOrReplaceTempView(f"pass_{i}")
        frames.append(df)
    if frames[0].rdd.getNumPartitions() != slots:
        raise RuntimeError(f"input has {frames[0].rdd.getNumPartitions()} partitions, want {slots}")

    key = category if path == "v1" else (lambda o: o)
    per_pass: list[dict] = []
    failed = 0
    rss = rss_peak(spark)
    deadline = float("inf")
    for i, name in enumerate(inputs):
        if (i > MIN_PASSES and time.perf_counter() > deadline
                or time.perf_counter() - t_start > MAX_RUN_S):
            break
        if i == 1:  # pass 0 warms the query's code paths; it is checked, not timed
            deadline = time.perf_counter() + seconds
        parts = read_parts(os.path.join(work, "input", name))
        flat = [t for p in parts for t in p]
        rec: dict = {"rows": len(flat), "ok": False, "warm": i == 0}
        traced = tracer is not None and i % 2 == 1
        if traced:
            install_wrappers(tracer)
        elif tracer is not None:
            tracer.unwrap_all()
        sparkenv.settle(spark)
        group = f"pass-{i}"
        spark.sparkContext.setJobGroup(group, group)
        span0 = len(tracer.spans) if tracer is not None else 0
        try:
            with tracer.span("pass", index=i, traced=traced) if tracer else nullcontext():
                t0 = time.perf_counter()
                got, plan_s = spark_pass(spark, path, frames[i], f"pass_{i}")
                rec["seconds"] = time.perf_counter() - t0
            rec["plan_s"] = plan_s
            rss = max(rss, rss_peak(spark))
            if tracer is not None:
                rec.update(layer_record(spark, tracer, group, span0, parts, flat), traced=traced)
            outs, rec["kernel_batches"] = kernel_pass(parts)
            rec["kernel_s"] = sum(s for _, s in rec["kernel_batches"])
            want = rollup(flat, outs, key)
            have = {r.k: (r.n, r.crc) for r in got}
            rec["ok"] = have == want
            if not rec["ok"]:
                print(f"pass {i}: rollup mismatch on {len(set(have.items()) ^ set(want.items()))} "
                      f"keys", file=sys.stderr)
        except Exception:  # a failed pass is counted, never dropped
            traceback.print_exc()
        failed += not rec["ok"]
        log(f"pass {i}: {rec.get('seconds', 0):.2f} s spark, {rec.get('kernel_s', 0):.2f} s kernel, "
            f"ok={rec['ok']}")
        per_pass.append(rec)
    if tracer is not None:
        tracer.unwrap_all()
    return {"passes": per_pass, "failed": failed, "py_peak_rss_mb": rss}


def layer_record(spark, tracer: Tracer, group: str, span0: int, parts: list[list],
                 flat: list) -> dict:
    """A traced pass's task metrics, wrapped-call spans, driver-side replay
    and per-batch dedup ratio."""
    from duckdb_title_mapper_spark.operators.standardize import get_index

    rows = distinct = 0
    step = sparkenv.ARROW_BATCH_ROWS
    for part in parts:
        for b in range(0, len(part), step):
            vals = [t for t in part[b:b + step] if t is not None]
            rows += len(vals)
            distinct += len(set(vals))
    return {
        "tasks": sparkenv.group_tasks(spark, group),
        "spans": {n: tracer.totals(n, span0)
                  for n in ("materialize", "standardize.kb_posting_lists_df")},
        "replay": replay([t for t in flat[:REPLAY_ROWS] if t is not None],
                         list(dict.fromkeys(t for t in flat if t is not None)), get_index()),
        "distinct_ratio": distinct / max(1, rows),
    }


def install_wrappers(tracer: Tracer) -> None:
    from duckdb_title_mapper_spark.operators import standardize
    from duckdb_title_mapper_spark.plans import materialize

    tracer.unwrap_all()
    tracer.wrap(standardize, "load_kb", "kb.load_kb")
    tracer.wrap(standardize, "build_index", "tfidf.build_index")
    tracer.wrap(standardize, "kb_posting_lists_df", "standardize.kb_posting_lists_df")
    tracer.wrap(materialize, "materialize", "materialize")


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------

def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _timed(res: dict) -> list[dict]:
    return [p for p in res["passes"] if p["ok"] and not p["warm"]]


def kernel_titles_per_s(res: dict) -> float:
    """Median over the timed passes' batches of the driver-side kernel."""
    return _med(n / s for p in _timed(res) for n, s in p["kernel_batches"])


def end_to_end(setups: list[dict], res: dict) -> dict:
    return {
        "setup_s": (_med(s["total"] for s in setups), "s"),
        "titles_per_s": (_med(p["rows"] / p["seconds"] for p in _timed(res)), "titles/s"),
        "py_peak_rss_mb": (res["py_peak_rss_mb"], "MB"),
    }


def per_layer(setup: dict, tracer: Tracer, res: dict, slots: int, jvm_rss: float,
              probe: float) -> dict:
    passes = [p for p in _timed(res) if "tasks" in p]

    def setup_total(name):
        return sum(s["end"] - s["start"] for s in tracer.spans
                   if s["name"] == name and s["end"] <= setup["end"])

    broadcast = sum(s.get("bytes", 0) for s in tracer.spans
                    if s["name"] == "sc.broadcast" and s["end"] <= setup["end"])

    def pm(f, among=passes):
        return _med(f(p) for p in among)

    wrapped = [p for p in passes if p["traced"]]

    def task(p):
        return p["tasks"]

    def durations(p):
        return [d for stage in task(p)["stage_durations_ms"] for d in stage]

    def skew(p):
        """Longest over median task duration in the pass's heaviest stage."""
        d = max(task(p)["stage_durations_ms"], key=sum, default=[])
        return max(d) / max(1.0, statistics.median(d)) if d else 0.0

    traced = [p["seconds"] for p in wrapped]
    plain = [p["seconds"] for p in passes if not p["traced"]]
    m = {
        "spark.session_start_s": (setup["session"], "s"),
        "kb.load_kb_s": (setup_total("kb.load_kb"), "s"),
        "tfidf.build_index_s": (setup_total("tfidf.build_index"), "s"),
        "standardize.register_s": (setup["register"], "s"),
        "standardize.broadcast_mb": (broadcast / 1e6, "MB"),
        "standardize.warmup_s": (setup["warmup"], "s"),
    }
    for name, unit in REPLAY_UNITS.items():
        m[name] = (pm(lambda p: p["replay"][name]), unit)
    kernel = kernel_titles_per_s(res)
    m.update({
        "standardize.match_titles_us": (1e6 / kernel if kernel else 0.0, "us"),
        "standardize.batch_distinct_ratio": (pm(lambda p: p["distinct_ratio"]), "ratio"),
        "standardize.udf_overhead_ratio": (
            pm(lambda p: 1.0 - p["kernel_s"] / max(1e-9, task(p)["run_ms"] / 1e3)), "ratio"),
        "standardize.plan_build_s": (pm(lambda p: p["plan_s"]), "s"),
        "standardize.kb_posting_lists_s": (
            pm(lambda p: p["spans"]["standardize.kb_posting_lists_df"][1], wrapped), "s"),
        "materialize.calls": (pm(lambda p: p["spans"]["materialize"][0], wrapped), "count"),
        "materialize.s": (pm(lambda p: p["spans"]["materialize"][1], wrapped), "s"),
        "spark.task_s": (pm(lambda p: task(p)["run_ms"] / 1e3), "s"),
        "spark.slot_busy_ratio": (
            pm(lambda p: sum(durations(p)) / 1e3 / (slots * p["seconds"])), "ratio"),
        "spark.tasks": (pm(lambda p: len(durations(p))), "count"),
        "spark.stages": (pm(lambda p: len(task(p)["stage_durations_ms"])), "count"),
        "spark.task_skew": (pm(skew), "ratio"),
        "spark.shuffle_write_mb": (pm(lambda p: task(p)["shuffle_bytes"] / 1e6), "MB"),
        "spark.jvm_gc_s": (pm(lambda p: task(p)["gc_ms"] / 1e3), "s"),
        "spark.jvm_peak_rss_mb": (jvm_rss, "MB"),
        "host.probe_s": (probe, "s"),
        "trace.overhead_ratio": (_med(traced) / _med(plain) - 1.0 if traced and plain else 0.0,
                                 "ratio"),
    })
    return m


# --------------------------------------------------------------------------
# Driver
# --------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    try:
        import duckdb_title_mapper_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    slots = sparkenv.task_slots()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    probe_start = host_probe()
    spark = None
    try:
        subprocess.run([sys.executable, "-c", "import run, sys; run.generate(*sys.argv[1:])",
                        args.workload, str(args.seed), str(slots), work], cwd=HERE, check=True)

        log("inputs written")
        tracer = Tracer() if args.trace else None
        setups = []
        goldens_ok = True
        if tracer is not None:
            install_wrappers(tracer)
        for n in range(1 if tracer is not None else SETUPS):
            if spark is not None:
                sparkenv.stop_context(spark)
                reset_engine()
            spark, times, ok = set_up(work, slots, tracer)
            goldens_ok = goldens_ok and ok
            times["end"] = time.perf_counter()
            log("set-up " + ", ".join(f"{k} {v:.2f} s" for k, v in times.items() if k != "end"))
            setups.append(times)
        if tracer is not None:
            tracer.unwrap_all()
        res = run_passes(spark, args.workload, work, args.seconds, slots, tracer, t_start)
        jvm_rss = sparkenv.peak_rss_mb(sparkenv.jvm_pid(spark))
        sparkenv.shutdown(spark)
        spark = None
        log("shut down")
    finally:
        if spark is not None:
            sparkenv.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    probe = (probe_start + host_probe()) / 2

    attempted = len(res["passes"])
    failed = res["failed"]
    if tracer is None:
        metrics = end_to_end(setups, res)
    else:
        metrics = per_layer(setups[0], tracer, res, slots, jvm_rss, probe)
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans,
                       "passes": [{k: v for k, v in p.items() if k != "tasks"}
                                  for p in res["passes"]]}, f, indent=1, default=str)
    summary = "; ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items())
    print(f"{args.workload} seed={args.seed} trace={args.trace} slots={slots} passes={attempted} "
          f"failed_pass_ratio={failed / attempted:.6g} ratio "
          f"kernel_titles_per_s={kernel_titles_per_s(res):.6g} titles/s "
          f"host.probe_s start={probe_start:.3f} end={2 * probe - probe_start:.3f} s: {summary}")
    print(json.dumps({
        "correct": failed == 0 and goldens_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
