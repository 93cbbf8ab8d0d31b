"""T6 streaming E2E: the five-way base-log split + dirty side output runs as
ONE foreachBatch fan-out over a replayed text stream, and the union of the
written "topics" matches the batch evaluation of the same splitter.

The fan-out contract tests run on micro-batches of two input files each,
every file carrying a line for every branch, so each branch of each batch
spans two input partitions."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from gmall_flink_230422_spark import apps, sinks
from gmall_flink_230422_spark.sources.files import stream_text

from test_apps import LOG_LINES

STREAMS = ("page", "start", "display", "action", "err", "dirty")


@pytest.fixture(scope="module")
def fan_dir(spark):
    d = tempfile.mkdtemp(prefix="gmall_fanout_")
    # two text files → two micro-batches
    half = len(LOG_LINES) // 2
    for i, chunk in enumerate((LOG_LINES[:half], LOG_LINES[half:])):
        with open(f"{d}/in_f{i}.txt", "w") as f:
            f.write("\n".join(chunk) + "\n")
    src_dir = f"{d}/src"
    import os

    os.makedirs(src_dir)
    for i in range(2):
        shutil.move(f"{d}/in_f{i}.txt", f"{src_dir}/f{i}.txt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_fanout_matches_batch_split(spark, fan_dir):
    src = stream_text(spark, f"{fan_dir}/src/*")
    q = sinks.fan_out_sink(
        src,
        lambda df: apps.base_log_app(df, batch=False),
        f"{fan_dir}/out",
        f"{fan_dir}/ckpt",
    )
    q.awaitTermination(120)

    raw = spark.createDataFrame([(l,) for l in LOG_LINES], ["value"])
    batch = apps.base_log_app(raw, batch=False)
    for name in STREAMS:
        want = batch[name].count()
        try:
            got = spark.read.parquet(f"{fan_dir}/out/{name}").count()
        except Exception:
            got = 0  # branch dir absent ⇔ batch produced nothing
        assert got == want, f"{name}: stream wrote {got}, batch has {want}"
    # at least page + one exploded branch must be non-empty for the fixture
    assert batch["page"].count() > 0


def test_keyword_pipeline_streaming(spark, fan_dir):
    """Flagship keyword pipeline (E3: parse -> P9 filter -> U1/U2 tokenize
    UDF + explode -> A1 watermarked tumble) over the replayed log stream:
    closed windows must match the batch evaluation exactly."""
    from pyspark.sql import functions as F

    from gmall_flink_230422_spark.apps import dws_keyword_window

    src = stream_text(spark, f"{fan_dir}/src/*")
    page_s = apps.base_log_app(src, batch=False)["page"]
    win_s = dws_keyword_window(page_s)
    q = (
        win_s.writeStream.format("memory")
        .queryName("t_kw_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["stt"], r["keyword"]): r["keyword_count"]
        for r in spark.sql("select * from t_kw_stream").collect()
    }

    raw = spark.createDataFrame([(l,) for l in LOG_LINES], ["value"])
    page_b = apps.base_log_app(raw, batch=False)["page"]
    want = {
        (r["stt"], r["keyword"]): r["keyword_count"]
        for r in dws_keyword_window(page_b).collect()
    }
    # append-mode emits only watermark-closed windows; each must match batch
    assert got == {k: v for k, v in want.items() if k in got}
    assert len(want) > 0


MARKER = "fan-out-marker"


def mixed_lines(k: int) -> list[str]:
    """One line for every branch: page (with a display and an action),
    start, err and a malformed line for dirty."""
    common = {"ar": "110000", "ch": "web", "vc": "v2", "mid": f"mid_{k}", "uid": str(k),
              "is_new": "1", "ba": "x", "md": "y", "os": "z"}
    ts = 1652000000000 + k * 1000
    return [
        json.dumps({"common": common,
                    "page": {"page_id": "good_detail", "last_page_id": "home", "item": None,
                             "item_type": None, "during_time": 100},
                    "displays": [{"item": "s1", "item_type": "sku_id", "pos_id": "1"}],
                    "actions": [{"action_id": "cart_add", "item": "s1", "item_type": "sku_id"}],
                    "ts": ts}),
        json.dumps({"common": common, "start": {"entry": "icon", "loading_time": "100"},
                    "ts": ts}),
        json.dumps({"common": common, "err": "crash", "ts": ts}),
        f"not json {k}",
    ]


def land_files(d: str, files: list[list[str]]) -> str:
    """Write each line list as its own text file under ``d/src``."""
    src = os.path.join(d, "src")
    os.makedirs(src)
    for i, lines in enumerate(files):
        with open(os.path.join(src, f"f{i}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return src


def run_fan_out(spark, src: str, d: str, split_fn):
    """Drain ``src`` through fan_out_sink, two files per micro-batch."""
    q = sinks.fan_out_sink(stream_text(spark, src, files_per_trigger=2), split_fn,
                           f"{d}/out", f"{d}/ckpt")
    q.awaitTermination(120)
    return q


def branch_files(d: str, name: str) -> dict[str, list[str]]:
    """batch_id directory -> the .parquet files in it, for one branch."""
    root = os.path.join(d, "out", name)
    return {b: sorted(f for f in os.listdir(os.path.join(root, b)) if f.endswith(".parquet"))
            for b in sorted(os.listdir(root)) if b.startswith("batch_id=")}


def commits(d: str) -> list[str]:
    path = os.path.join(d, "ckpt", "commits")
    return [f for f in os.listdir(path) if not f.startswith(".")] if os.path.isdir(path) else []


@pytest.fixture
def mixed_dir():
    d = tempfile.mkdtemp(prefix="gmall_fanout_mixed_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_fanout_one_file_per_branch_per_batch(spark, mixed_dir):
    """A small micro-batch lands one file per branch, however many input
    partitions it spans."""
    import pyarrow.parquet as pq

    src = land_files(mixed_dir, [mixed_lines(k) for k in range(4)])
    run_fan_out(spark, src, mixed_dir, lambda df: apps.base_log_app(df, batch=False))
    assert len(commits(mixed_dir)) == 2
    for name in STREAMS:
        files = branch_files(mixed_dir, name)
        assert list(files) == ["batch_id=0", "batch_id=1"], name
        for b, names in files.items():
            assert len(names) == 1, f"{name}/{b}: {names}"
            path = os.path.join(mixed_dir, "out", name, b, names[0])
            assert pq.ParquetFile(path).metadata.num_rows >= 2, f"{name}/{b}"


def test_fanout_branches_inherit_streaming_query_id(spark, mixed_dir):
    """Every branch job carries the streaming query's local properties,
    whichever thread submitted it."""
    from pyspark import TaskContext

    query_id = F.udf(lambda: TaskContext.get().getLocalProperty("sql.streaming.queryId"),
                     "string").asNondeterministic()
    src = land_files(mixed_dir, [mixed_lines(k) for k in range(4)])
    q = run_fan_out(spark, src, mixed_dir, lambda df: {
        name: branch.withColumn("qid", query_id())
        for name, branch in apps.base_log_app(df, batch=False).items()})
    for name in STREAMS:
        got = {r["qid"] for r in spark.read.parquet(f"{mixed_dir}/out/{name}").collect()}
        assert got == {str(q.id)}, name


def test_fanout_branch_failure_commits_nothing_then_replays_once(spark, mixed_dir):
    """One failing branch fails the micro-batch with its own error and
    commits nothing; a restart on the same checkpoint lands every branch
    exactly once."""
    files = [mixed_lines(k) for k in range(4)]
    files[0].append(MARKER)
    src = land_files(mixed_dir, files)

    def failing(df):
        out = apps.base_log_app(df, batch=False)
        out["dirty"] = out["dirty"].withColumn("value", F.when(
            F.col("value").contains(MARKER), F.raise_error(F.lit(f"branch failed on {MARKER}"))
        ).otherwise(F.col("value")))
        return out

    with pytest.raises(Exception, match=f"branch failed on {MARKER}"):
        run_fan_out(spark, src, mixed_dir, failing)
    assert commits(mixed_dir) == []

    run_fan_out(spark, src, mixed_dir, lambda df: apps.base_log_app(df, batch=False))
    assert len(commits(mixed_dir)) == 2
    raw = spark.createDataFrame([(l,) for f in files for l in f], ["value"])
    batch = apps.base_log_app(raw, batch=False)
    for name in STREAMS:
        assert all(len(v) == 1 for v in branch_files(mixed_dir, name).values()), name
        got = spark.read.parquet(f"{mixed_dir}/out/{name}").count()
        assert got == batch[name].count(), name


def test_fanout_unknown_batch_size_keeps_partitions(spark, mixed_dir):
    """A source without size statistics (Catalyst reports Long.MaxValue)
    keeps every input partition as a writer."""
    src = (spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 30)
           .option("numPartitions", 3).load())
    q = sinks.fan_out_sink(src, lambda df: {"all": df, "even": df.filter("value % 2 = 0")},
                           f"{mixed_dir}/out", f"{mixed_dir}/ckpt")
    q.awaitTermination(120)
    assert q.exception() is None
    for name in ("all", "even"):
        assert [len(v) for v in branch_files(mixed_dir, name).values()] == [3], name
