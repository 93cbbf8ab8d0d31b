"""``ods_chain`` workload: the reference ODS -> DWD -> DWS chain.

Each app is its own streaming query and the apps are connected by parquet
topic directories:

- ``log``: ``stream_text`` -> ``sinks.fan_out_sink(apps.base_log_app(batch=False))``
  into the six DWD log topics;
- ``dwd``: ``stream_text`` -> ``parse_cdc`` -> ``sinks.fan_out_sink`` of
  ``apps.run_dwd_app`` for the cart-add, cancel and pay-success specs;
- ``pv``, ``kw``, ``uv``: the DWD page topic feeds
  ``apps.dws_traffic_page_view_window``, ``apps.dws_keyword_window`` and
  ``streaming.stateful.daily_first_stream``; each micro-batch lands through
  ``sinks.write_topic``.

``fan_out_sink`` fixes its own AvailableNow trigger, so the paced phase
re-invokes it on the same checkpoint; the DWS queries there run on the
default trigger. A run warms the chain up on a small backlog, drains a
seeded backlog twice on fresh topics (throughput), then feeds the running
chain from an open-loop generator process (latency).

Run through ``perfbench/run.py``; this module is the worker it starts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import gen  # noqa: E402
from common import median, now_ms, pct  # noqa: E402

BACKLOG_EVENTS = 24_000
BACKLOG_FILES = 8  # per topic
BACKLOG_FILES_PER_TRIGGER = 4  # two large micro-batches per ODS query
BACKLOG_DRAINS = 2
WARMUP_EVENTS = 7_500
FILES_PER_TRIGGER = 10_000  # paced and DWS: take everything that has landed
DWD_SPECS = {"cart_add": "dwd_trade_cart_add", "cancel": "dwd_trade_cancel_detail",
             "pay_suc": "dwd_trade_pay_detail_suc"}
LOG_TOPICS = ("page", "start", "display", "action", "err", "dirty")
QUERIES = ("log", "dwd", "pv", "kw", "uv")
DWS_DEADLINE_S = 60


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]  # skip in-flight writes
        for name in names:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                n += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return n


def read_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return []
    return pq.ParquetDataset(path).read().to_pylist()


class Chain:
    """One instance of the chain on its own topic and checkpoint
    directories under ``root``; ``inp`` holds the generated ODS files."""

    def __init__(self, spark, inp: str, root: str, tracer, src_files_per_trigger: int) -> None:
        from gmall_flink_230422_spark import apps

        self.spark, self.inp, self.tracer = spark, inp, tracer
        self.fpt = src_files_per_trigger
        self.topics = os.path.join(root, "topics")
        self.ckpt = os.path.join(root, "ckpt")
        self.dws = os.path.join(root, "dws")
        for d in (os.path.join(inp, "log"), os.path.join(inp, "db"),
                  os.path.join(self.topics, "log", "page")):
            os.makedirs(d, exist_ok=True)
        self.dic = spark.createDataFrame(sorted(gen.DIC.items()), ["dic_code", "dic_name"])
        # the topic's partition column is declared up front: the file source
        # fixes its schema at start, before any batch_id=N directory exists
        self.page_schema = apps.base_log_app(
            spark.createDataFrame([], "value string"), batch=False)["page"].schema.add(
            "batch_id", "long")
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.invocations: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.dws_queries: dict = {}
        self.writes: list[float] = []
        self.fan_outs: list[float] = []  # fan_out_sink invocations that ran a batch

    # ------------------------------------------------------------ ODS -> DWD
    def _fan_out(self, name: str) -> None:
        """One fan_out_sink invocation (AvailableNow: drains what has landed)."""
        from gmall_flink_230422_spark import apps, sinks
        from gmall_flink_230422_spark.operators.cdc import parse_cdc
        from gmall_flink_230422_spark.sources.files import stream_text

        t0 = now_ms()
        with self.tracer.span("sinks.fan_out_sink", query=name):
            src = stream_text(self.spark, os.path.join(self.inp, name if name == "log" else "db"),
                              self.fpt)
            if name == "log":
                split = lambda df: apps.base_log_app(df, batch=False)  # noqa: E731
            else:
                src = parse_cdc(src)
                split = lambda df: {  # noqa: E731
                    topic: apps.run_dwd_app(df, apps.DWD_SPECS[spec], self.dic)
                    for topic, spec in DWD_SPECS.items()}
            q = sinks.fan_out_sink(src, split, os.path.join(self.topics, name),
                                   os.path.join(self.ckpt, name), query_name=name)
            q.awaitTermination()
        progress = [json.loads(p.json) for p in q.recentProgress]
        self.invocations[name].append((t0, now_ms()))
        if any("addBatch" in p["durationMs"] for p in progress):
            self.fan_outs.append(now_ms() - t0)
        self.progress[name] += progress

    def run_dwd_layer(self, until=None) -> None:
        """Run the log and dwd apps side by side. With ``until`` (a callable
        telling whether the generator has finished), keep re-invoking each
        until an invocation that started after the generator ended."""
        errors: list[BaseException] = []

        def loop(name):
            try:
                while True:
                    done = until is None or until()
                    self._fan_out(name)
                    if done:
                        return
            except BaseException as e:  # surfaced in the caller's thread
                errors.append(e)

        threads = [threading.Thread(target=loop, args=(n,), name=f"fan-out-{n}")
                   for n in ("log", "dwd")]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    # ------------------------------------------------------------ DWD -> DWS
    def start_dws(self, available_now: bool) -> None:
        from pyspark.sql import functions as F

        from gmall_flink_230422_spark import apps, sinks
        from gmall_flink_230422_spark.sources.files import stream_parquet
        from gmall_flink_230422_spark.streaming.stateful import daily_first_stream

        page = stream_parquet(self.spark, os.path.join(self.topics, "log", "page"),
                              self.page_schema, FILES_PER_TRIGGER).drop("batch_id")
        outs = {
            "pv": apps.dws_traffic_page_view_window({"page": page}),
            "kw": apps.dws_keyword_window(page),
            "uv": daily_first_stream(page.withColumn("mid", F.col("common.mid")), ["mid"],
                                     "event_ts"),
        }
        for name, df in outs.items():
            def land(batch_df, batch_id, name=name):
                t0 = now_ms()
                sinks.write_topic(batch_df, os.path.join(self.dws, name, f"batch_id={batch_id}"),
                                  "overwrite")
                t1 = now_ms()
                self.writes.append(t1 - t0)
                self.tracer.add("sinks.write_topic", t0, t1, query=name)

            w = (df.writeStream.foreachBatch(land).queryName(name).outputMode("append")
                 .option("checkpointLocation", os.path.join(self.ckpt, name)))
            if available_now:
                w = w.trigger(availableNow=True)
            self.dws_queries[name] = (now_ms(), w.start())

    def stop_dws(self, wait_rows: dict[str, int] | None = None) -> None:
        """Wait for AvailableNow queries to end, or for continuous ones to
        land at least ``wait_rows`` rows each, then stop and keep progress."""
        deadline = time.time() + DWS_DEADLINE_S
        for name, (t0, q) in self.dws_queries.items():
            if wait_rows is None:
                q.awaitTermination()
            else:
                # stop only between triggers, once the expected rows have landed
                path = os.path.join(self.dws, name)
                while time.time() < deadline and q.exception() is None and (
                        parquet_rows(path) < wait_rows[name] or q.status["isTriggerActive"]
                        or q.status["isDataAvailable"]):
                    time.sleep(0.05)
                if q.exception() is None:
                    q.stop()
            if q.exception() is not None:
                raise RuntimeError(f"{name} failed: {q.exception()}")
            self.invocations[name].append((t0, now_ms()))
            self.progress[name] += [json.loads(p.json) for p in q.recentProgress]
        self.dws_queries = {}

    # ------------------------------------------------------------ results
    def batch_ends(self, name: str) -> dict[int, float]:
        return {p["batchId"]: common.progress_end_ms(p) for p in self.progress[name]
                if "addBatch" in p["durationMs"]}

    def last_commit_ms(self) -> float:
        return max(max(self.batch_ends(n).values()) for n in QUERIES if self.progress[n])

    def check(self, expected: dict) -> tuple[int, int]:
        """(expected rows, wrong + missing + extra rows) against the
        generator's reference results."""
        exp_rows, bad = 0, 0
        for topic in LOG_TOPICS:
            got = parquet_rows(os.path.join(self.topics, "log", topic))
            want = expected["dwd"][topic]
            exp_rows += want
            bad += abs(got - want)
        for topic in DWD_SPECS:
            got = parquet_rows(os.path.join(self.topics, "dwd", topic))
            want = expected["dwd"][topic]
            exp_rows += want
            bad += abs(got - want)
        cols = {"pv": ("stt", "vc", "ch", "ar", "is_new", "pv_ct", "sv_ct", "dur_sum"),
                "kw": ("stt", "keyword", "keyword_count")}
        for name, names in cols.items():
            rows = read_rows(os.path.join(self.dws, name))
            got = Counter(tuple(r[c] for c in names) for r in rows)
            bad += sum(r["edt"] - r["stt"] != gen.WINDOW_MS // 1000 for r in rows)
            want = Counter(tuple(r) for r in expected[name])
            exp_rows += sum(want.values())
            bad += sum(((got - want) + (want - got)).values())
        uv = Counter((r["mid"], str(r["cur_date"])) for r in
                     read_rows(os.path.join(self.dws, "uv")))
        want = Counter(tuple(r) for r in expected["uv"])
        exp_rows += sum(want.values())
        bad += sum(((uv - want) + (want - uv)).values())
        return exp_rows, bad

    def dwd_latencies(self, manifest: dict, created) -> list[float]:
        """Per ODS line that reaches a DWD topic: end of the micro-batch that
        committed it minus ``created(stamp)``, its creation on the wall clock."""
        out = []
        for name, topic in (("log", "log"), ("dwd", "db")):
            ends = self.batch_ends(name)
            for fname, bid in common.file_batches(os.path.join(self.ckpt, name)).items():
                end = ends[bid]
                out += [end - created(s) for s in manifest["files"][f"{topic}/{fname}"]["stamps"]]
        return out

    def dws_latencies(self, created) -> list[float]:
        """Per DWS window row: end of the micro-batch that landed it minus the
        moment the window became emittable (its end plus the watermark delay,
        on the generator's clock), as ``created`` maps it to the wall clock."""
        out = []
        for name, delay in (("pv", gen.PV_DELAY_MS), ("kw", gen.KW_DELAY_MS)):
            ends = self.batch_ends(name)
            for r in read_rows(os.path.join(self.dws, name)):
                # a batch cut short by stop() has no end; its rows have no latency
                if r["batch_id"] in ends:
                    out.append(ends[r["batch_id"]] - created(r["edt"] * 1000 + delay))
        return out

    def layer_metrics(self, manifest: dict, evlog: dict | None) -> dict[str, float]:
        """Per-layer figures from StreamingQueryProgress, spans and the event log."""
        m: dict[str, float] = {}
        for q in QUERIES:
            # progress of triggers that ran a batch (not the idle polls)
            ps = [p for p in self.progress[q] if "addBatch" in p["durationMs"]]
            dur = [p["durationMs"] for p in ps]
            life = sum(b - a for a, b in self.invocations[q])
            trig = [d.get("triggerExecution", 0) for d in dur]
            m[f"{q}.busy_ms"] = float(sum(d.get("addBatch", 0) for d in dur))
            m[f"{q}.rows_in"] = float(sum(p["numInputRows"] for p in ps))
            m[f"{q}.batches"] = float(len(ps))
            m[f"{q}.overhead_ms"] = float(sum(
                d.get(k, 0) for d in dur
                for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")))
            m[f"{q}.trigger_p50_ms"] = median(trig)
            m[f"{q}.idle_ms"] = max(0.0, life - sum(trig))
            st = evlog.get(q, {}) if evlog else {}
            m[f"{q}.shuffle_bytes"] = float(st.get("shuffle_bytes", 0))
            m[f"{q}.spill_bytes"] = float(st.get("spill_bytes", 0))
        m["log.rows_out"] = float(sum(parquet_rows(os.path.join(self.topics, "log", t))
                                      for t in LOG_TOPICS))
        m["dwd.rows_out"] = float(sum(parquet_rows(os.path.join(self.topics, "dwd", t))
                                      for t in DWD_SPECS))
        for q in ("pv", "kw", "uv"):
            m[f"{q}.rows_out"] = float(parquet_rows(os.path.join(self.dws, q)))
        m["log.jobs_per_batch"] = (evlog.get("log", {}).get("jobs", 0) / m["log.batches"]
                                   if evlog and m["log.batches"] else 0.0)
        for q in ("pv", "kw", "uv"):
            ops = [p["stateOperators"][0] for p in self.progress[q] if p["stateOperators"]]
            m[f"{q}.state_rows"] = float(max((o["numRowsTotal"] for o in ops), default=0))
            m[f"{q}.state_bytes"] = float(max((o["memoryUsedBytes"] for o in ops), default=0))
            if q == "pv":
                m["pv.late_dropped_rows"] = float(sum(o.get("numRowsDroppedByWatermark", 0)
                                                      for o in ops))
        m["sinks.fan_out_sink_ms"] = median(self.fan_outs)
        m["sinks.write_topic_ms"] = median(self.writes)
        # files landed but not yet in a started log batch, at each batch start
        fb = common.file_batches(os.path.join(self.ckpt, "log"))
        landed = sorted(f["landed"] for k, f in manifest["files"].items() if k.startswith("log/"))
        lag = []
        for p in self.progress["log"]:
            if "addBatch" not in p["durationMs"]:
                continue
            start = common.progress_start_ms(p)
            taken = sum(1 for b in fb.values() if b < p["batchId"])
            lag.append(sum(1 for t in landed if t <= start) - taken)
        m["sources.read_lag_files_p95"] = pct(lag, 0.95)
        m["gen.lag_p95_ms"] = pct([f["landed"] - f["due"] for f in manifest["files"].values()],
                                  0.95)
        return m


def spawn_gen(args: list[str]) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, str(HERE / "gen.py"), *args])


def make_backlog(seed: int, out: str, manifest: str, events: int, files: int) -> dict:
    spawn_gen(["--mode", "backlog", "--seed", str(seed), "--out", out, "--manifest", manifest,
               "--events", str(events), "--files", str(files)]).wait()
    with open(manifest) as fh:
        return json.load(fh)


def collect_garbage(spark) -> None:
    """Start each measured phase from a collected JVM heap, so garbage left
    by the previous phase is not collected at a random point inside it."""
    spark.sparkContext._jvm.System.gc()


def drain(spark, inp: str, root: str, tracer, files_per_trigger: int) -> tuple[Chain, float]:
    """Run the whole chain over a landed backlog (AvailableNow everywhere:
    the DWD apps side by side, then the DWS apps); returns it and its start."""
    chain = Chain(spark, inp, root, tracer, files_per_trigger)
    collect_garbage(spark)
    t0 = now_ms()
    with tracer.span("drain"):
        chain.run_dwd_layer()
        chain.start_dws(available_now=True)
        chain.stop_dws()
    return chain, t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--master", default=None, help="Spark master, e.g. local[1]")
    args = ap.parse_args()
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    work = args.work
    tracer = common.Tracer(bool(args.trace))

    # the backlogs exist before the run, so they are made before the set-up clock
    g0 = time.time()
    warm_in = os.path.join(work, "warm", "in")
    warm = make_backlog(args.seed + 1_000_003, warm_in, os.path.join(work, "warm", "manifest.json"),
                        WARMUP_EVENTS, 2)
    backlog_in = os.path.join(work, "backlog", "in")
    backlog = make_backlog(args.seed, backlog_in, os.path.join(work, "backlog", "manifest.json"),
                           BACKLOG_EVENTS, BACKLOG_FILES)
    t_start += time.time() - g0

    from gmall_flink_230422_spark.session import get_spark

    conf = {"spark.sql.streaming.numRecentProgressUpdates": "100000"}
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(common.event_log_conf(evdir))
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench-chain", master=args.master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # set-up ends with the chain warm: a drain of a smaller backlog, in the
    # same two micro-batches per ODS query, has compiled every query
    checked = [(drain(spark, warm_in, os.path.join(work, "warm"), tracer, 1)[0], warm)]
    setup_s = time.time() - t_start

    # backlog phase: warm drains on fresh topics, median throughput
    drains = []
    for k in range(BACKLOG_DRAINS):
        drains.append(drain(spark, backlog_in, os.path.join(work, "backlog", f"rep{k}"), tracer,
                            BACKLOG_FILES_PER_TRIGGER))
        checked.append((drains[-1][0], backlog))
    rates = [backlog["lines"] / ((c.last_commit_ms() - t0) / 1000) for c, t0 in drains]

    # paced phase: an open-loop generator process feeds the running chain
    paced_in = os.path.join(work, "paced", "in")
    manifest_path = os.path.join(work, "paced", "manifest.json")
    chain = Chain(spark, paced_in, os.path.join(work, "paced"), tracer, FILES_PER_TRIGGER)
    collect_garbage(spark)
    chain.start_dws(available_now=False)
    proc = spawn_gen(["--mode", "paced", "--seed", str(args.seed), "--out", paced_in,
                      "--manifest", manifest_path, "--seconds", str(args.seconds)])
    try:
        chain.run_dwd_layer(until=lambda: proc.poll() is not None)
    finally:
        proc.wait()
    with open(manifest_path) as fh:
        paced = json.load(fh)
    exp = paced["expected"]
    chain.stop_dws({"pv": len(exp["pv"]), "kw": len(exp["kw"]), "uv": len(exp["uv"])})
    checked.append((chain, paced))
    rss = common.peak_rss_mb(spark)
    spark.stop()

    attempted = failed = 0
    for c, m in checked:
        n, bad = c.check(m["expected"])
        attempted += n
        failed += bad
    clock = paced["clock"]
    created = lambda g: clock["begin"] + (g - clock["begin"]) / clock["speedup"]  # noqa: E731
    dwd_lat = chain.dwd_latencies(paced, created)
    dws_lat = chain.dws_latencies(created)
    metrics = {"setup_s": setup_s, "events_per_s": median(rates),
               "first_ms": pct(dwd_lat, 0.5), "first_tail_ms": pct(dwd_lat, 0.95),
               "final_ms": pct(dws_lat, 0.5), "final_tail_ms": pct(dws_lat, 0.95)}
    named = [("setup_s", setup_s, "s"), ("peak_rss_mb", rss, "MB"),
             ("failed_frac", failed / max(attempted, 1), "ratio"),
             ("ods_events_per_s", median(rates), "events/s"),
             ("dwd_latency_p50_ms", pct(dwd_lat, 0.5), "ms"),
             ("dwd_latency_p95_ms", pct(dwd_lat, 0.95), "ms"),
             ("dws_latency_p50_ms", pct(dws_lat, 0.5), "ms"),
             ("dws_latency_p95_ms", pct(dws_lat, 0.95), "ms"),
             ("dwd_latency_samples", len(dwd_lat), "count"),
             ("dws_latency_samples", len(dws_lat), "count")]
    info = {"backlog_lines": backlog["lines"], "paced_lines": paced["lines"],
            "drain_events_per_s": rates}

    layers = {}
    if args.trace:
        last = drains[-1][0]
        ids = {p["id"]: q for q in QUERIES for p in chain.progress[q]}
        ids.update({p["id"]: f"backlog.{q}" for q in QUERIES for p in last.progress[q]})
        evlog = common.reduce_event_log(
            evdir, lambda props: ids.get(props.get("sql.streaming.queryId")))
        layers = chain.layer_metrics(paced, evlog)
        for q in QUERIES:
            layers[f"backlog.{q}.busy_ms"] = float(sum(
                p["durationMs"].get("addBatch", 0) for p in last.progress[q]))
        log_batches = sum(1 for p in last.progress["log"] if "addBatch" in p["durationMs"])
        layers["backlog.log.jobs_per_batch"] = (
            evlog.get("backlog.log", {}).get("jobs", 0) / max(log_batches, 1))
        layers["session.get_spark_s"] = tracer.durations("session.get_spark")[0] / 1000
        layers["mem.peak_rss_mb"] = rss
    common.write_result(args.result, {"attempted": attempted, "failed": failed,
                                      "metrics": metrics, "named": named, "layers": layers,
                                      "info": info, "spans": tracer.spans})


if __name__ == "__main__":
    main()
