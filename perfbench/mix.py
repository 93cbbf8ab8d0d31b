"""batch_mix workload: ten registry batch twins in one fresh JVM at sf0.01.

Per query: cold = registry-function time (plan construction, including
any eager jobs) plus the first action; then an untimed aggregate computes
the output's row count and order-insensitive checksum, which must equal
``expected_mix.json`` (derived from the registry's DuckDB oracle on the
same tables) and which also warms the plan up; warm = the median of
WARM_REPS repeat actions on the same DataFrame. Actions are ``noop``
writes, so the time is the program's and not a collect into Python.

The tables are the repository's sf0.01 fixture tier (TESTDATA.md), the one
the oracle correctness checks run on: the six tables these queries read
are kept byte for byte in ``data/sf0.01``, because a run reads nothing
outside its checkout. The queries run in a fixed order (each one's cold
time includes warming the JVM for the next): ``--seed`` does not change
this workload's inputs.

Re-derive the expected results (and check Spark against the oracle)::

    python3 perfbench/mix.py --refresh
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import common  # noqa: E402
from common import median  # noqa: E402

SF_DIR = HERE / "data" / "sf0.01"

# query -> the tables it reads
READS = {"p10_base_log_split": ("events",),
         "j6_dwd_order_detail": ("lineitem", "orders", "nation"),
         "p3_dwd_cancel_detail": ("orders",), "s4_dim_app_sync": ("customer",),
         "a4_union_preagg": ("events",), "t3_daily_uv": ("events",),
         "t5_bounce_detect": ("events",), "s8_upsert_latest": ("orders",),
         "u1_keyword_count": ("documents",), "x_curate_funnel": ("documents",)}
QUERIES = tuple(READS)
EXPECTED = HERE / "expected_mix.json"
WARM_REPS = 2


def checksum_aggs(df):
    """(row count, order-insensitive checksum) aggregate columns.

    Each row becomes one string: columns in name order; integral values as
    exact integers, whatever their type; other numbers to 9 significant
    digits (the oracle comparison's tolerance); everything else cast to
    string. The checksum is the exact sum of the rows' xxhash64."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    parts = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, T.IntegralType) or (isinstance(t, T.DecimalType) and t.scale == 0):
            s = c.cast("decimal(38,0)").cast("string")
        elif isinstance(t, T.NumericType):
            x = c.cast("double") + F.lit(0.0)  # folds -0.0 into 0.0
            s = F.when((x == F.floor(x)) & (F.abs(x) < 1e15),
                       x.cast("decimal(38,0)").cast("string")).otherwise(
                F.format_string("%.9g", x))
        else:
            s = c.cast("string")
        parts.append(F.coalesce(s, F.lit("␀")))
    h = F.xxhash64(F.concat_ws("␟", *parts)).cast("decimal(38,0)")
    return F.count(F.lit(1)).alias("rows"), F.sum(h).alias("checksum")


def slow_half_mean(times) -> float:
    """Mean of the slower half of the per-query times: the tail of the mix.
    A single slowest query's time jumps by more from run to run."""
    s = sorted(times, reverse=True)[:max(len(times) // 2, 1)]
    return sum(s) / len(s) if s else 0.0


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def phase_ms(tracker, name: str) -> float:
    opt = tracker.phases().get(name)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def scan_repeat(plan: str) -> int:
    """Most scans of any one base table in an executed-plan string."""
    scans = Counter(re.findall(r"FileScan \w+ .*?Location: \w+\(\d+ paths\)\[([^\],]+)", plan))
    return max(scans.values(), default=0)


def persisted_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def rows_read() -> dict[str, int]:
    import pyarrow.parquet as pq

    rows = {t: pq.ParquetFile(SF_DIR / f"{t}.parquet").metadata.num_rows
            for t in {t for ts in READS.values() for t in ts}}
    return {q: sum(rows[t] for t in ts) for q, ts in READS.items()}


def run_query(spark, spec, trace) -> dict:
    sc = spark.sparkContext
    name = spec.name
    rec: dict = {"query": name}
    # each query starts from a collected heap, not the previous query's garbage
    sc._jvm.System.gc()
    sc.setJobGroup(f"build:{name}", f"construction of {name}")
    t0 = time.perf_counter()
    df = spec.fn(spark, str(SF_DIR))
    rec["build_s"] = time.perf_counter() - t0
    rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
    if trace:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        tr = qe.tracker()
        for ph in ("analysis", "optimization", "planning"):
            rec[f"{ph}_ms"] = phase_ms(tr, ph)
        rec["scan_repeat"] = scan_repeat(qe.executedPlan().toString())
    sc.setJobGroup(f"exec:{name}", f"execution of {name}")
    rec["first_s"] = noop(df)
    # the untimed output check runs the whole plan once more, so it is also
    # the warm-up between the first action and the timed repeats
    sc.setJobGroup(f"check:{name}", f"output check of {name}")
    got = df.agg(*checksum_aggs(df)).first()
    rec["rows"], rec["checksum"] = int(got["rows"]), str(got["checksum"] or 0)
    sc.setJobGroup(f"exec:{name}", f"execution of {name}")
    warm = [noop(df) for _ in range(WARM_REPS)]
    rec["warm_reps"] = warm
    rec["warm_s"] = median(warm)
    rec["persisted_bytes"] = persisted_bytes(sc)
    spark.catalog.clearCache()
    return rec


def refresh() -> None:
    """Derive expected_mix.json from the DuckDB oracle and report whether
    Spark agrees on this data."""
    import duckdb

    from gmall_flink_230422_spark.plans import registry
    from gmall_flink_230422_spark.session import get_spark

    root = Path.cwd()
    work = root / ".perfbench_work" / "refresh"
    sf_dir = str(SF_DIR)
    (work / "tmp").mkdir(parents=True)
    # keep the queries' and the JVM's temp files and the warehouse inside
    # the work dir, as run.py does for a run
    tempfile.tempdir = str(work / "tmp")
    os.environ.update(SPARK_GRAFT_INDEX_DIR=str(work / "warehouse"),
                      SPARK_LOCAL_DIRS=str(work / "tmp"),
                      JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    os.chdir(work)
    try:
        spark = get_spark("perfbench-mix-refresh")
        spark.sparkContext.setLogLevel("ERROR")
        con = duckdb.connect()
        for f in os.listdir(sf_dir):
            con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
        specs = registry()
        out, bad = {}, []
        for name in QUERIES:
            oracle = spark.createDataFrame(con.sql(specs[name].oracle).arrow())
            row = oracle.agg(*checksum_aggs(oracle)).first()
            out[name] = {"rows": int(row["rows"]), "checksum": str(row["checksum"] or 0)}
            df = specs[name].fn(spark, sf_dir)
            got = df.agg(*checksum_aggs(df)).first()
            same = (int(got["rows"]), str(got["checksum"] or 0)) == (
                out[name]["rows"], out[name]["checksum"])
            print(f"{'PASS' if same else 'FAIL'} {name}: {out[name]}", flush=True)
            if not same:
                bad.append(name)
            spark.catalog.clearCache()
        spark.stop()
        EXPECTED.write_text(json.dumps({"tables": str(SF_DIR.relative_to(HERE)), "queries": out},
                                       indent=2) + "\n")
        print(f"wrote {EXPECTED}")
        if bad:
            sys.exit(f"Spark disagrees with the oracle on: {' '.join(bad)}")
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--refresh", action="store_true")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work")
    ap.add_argument("--result")
    args = ap.parse_args()
    if args.refresh:
        refresh()
        return
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    work = args.work
    expected = json.loads(EXPECTED.read_text())["queries"]
    tracer = common.Tracer(bool(args.trace))

    from gmall_flink_230422_spark.plans import registry
    from gmall_flink_230422_spark.session import get_spark

    conf = {}
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(common.event_log_conf(evdir))
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench-mix", extra_conf=conf)
    setup_s = time.time() - t_start
    spark.sparkContext.setLogLevel("ERROR")

    specs = registry()
    recs, failed = [], 0
    for name in QUERIES:
        with tracer.span("query", query=name):
            try:
                rec = run_query(spark, specs[name], args.trace)
                rec["ok"] = (rec["rows"], rec["checksum"]) == (
                    expected[name]["rows"], expected[name]["checksum"])
            except Exception as e:  # a failing query is a failed operation
                rec = {"query": name, "ok": False, "error": repr(e)[:500]}
                spark.catalog.clearCache()
        failed += not rec["ok"]
        recs.append(rec)
    rss = common.peak_rss_mb(spark)
    spark.stop()

    done = [r for r in recs if "warm_s" in r]
    cold = [r["build_s"] + r["first_s"] for r in done]
    warm = [r["warm_s"] for r in done]
    read = rows_read()
    n_read = sum(read[r["query"]] for r in done)
    n = max(len(done), 1)
    metrics = {"setup_s": setup_s,
               "events_per_s": n_read / max(sum(cold) + sum(warm), 1e-9),
               "first_ms": sum(cold) / n * 1000, "first_tail_ms": slow_half_mean(cold) * 1000,
               "final_ms": sum(warm) / n * 1000, "final_tail_ms": slow_half_mean(warm) * 1000}
    named = [("setup_s", setup_s, "s"), ("peak_rss_mb", rss, "MB"),
             ("failed_frac", failed / len(recs), "ratio"),
             ("batch_cold_s", sum(cold), "s"), ("batch_warm_s", sum(warm), "s"),
             ("slowest_cold_s", max(cold, default=0), "s"),
             ("slowest_warm_s", max(warm, default=0), "s")]
    info = {"queries": recs}
    layers = {}
    if args.trace:
        ev = common.reduce_event_log(evdir, lambda p: p.get("spark.jobGroup.id"))
        layers = {
            "plans.build_s": sum(r["build_s"] for r in done),
            "plans.build_jobs": float(sum(r["build_jobs"] for r in done)),
            "plans.scan_repeat": float(max((r["scan_repeat"] for r in done), default=0)),
            "catalyst.analysis_ms": sum(r["analysis_ms"] for r in done),
            "catalyst.optimization_ms": sum(r["optimization_ms"] for r in done),
            "catalyst.planning_ms": sum(r["planning_ms"] for r in done),
            "exec.first_s": sum(r["first_s"] for r in done),
            "exec.warm_s": sum(warm),
            "exec.task_ms": float(sum(ev.get(f"exec:{q}", {}).get("task_ms", 0) for q in QUERIES)),
            "exec.shuffle_bytes": float(sum(ev.get(f"exec:{q}", {}).get("shuffle_bytes", 0)
                                            for q in QUERIES)),
            "exec.spill_bytes": float(sum(ev.get(f"exec:{q}", {}).get("spill_bytes", 0)
                                          for q in QUERIES)),
            "cache.persisted_bytes": float(max((r["persisted_bytes"] for r in done), default=0)),
            "session.get_spark_s": tracer.durations("session.get_spark")[0] / 1000,
            "mem.peak_rss_mb": rss,
        }
        for r in done:
            q = r["query"]
            layers[f"{q}.build_s"] = r["build_s"]
            layers[f"{q}.analysis_ms"] = r["analysis_ms"]
            layers[f"{q}.warm_s"] = r["warm_s"]
            r["exec"] = ev.get(f"exec:{q}", {})
            r["build"] = ev.get(f"build:{q}", {})
    common.write_result(args.result, {"attempted": len(recs), "failed": failed,
                                      "metrics": metrics, "named": named, "layers": layers,
                                      "info": info, "spans": tracer.spans})


if __name__ == "__main__":
    main()
