"""Benchmark entry point.

    python3 perfbench/run.py --workload ods_chain --seed 1 --seconds 20 --trace 0

Runs one workload (see BENCHMARK.json) in a worker process, from the root of
a checkout of the repository. Prints every end-to-end metric (``--trace 0``)
or every per-layer metric (``--trace 1``) by name with its unit, and as the
last line one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Exits non-zero when an output check fails or the run hangs.

The worker runs in a work directory under ``.perfbench_work/`` with
TMPDIR, Spark's local dirs and the JVM's temp dir pointed inside it; the
directory and every process the worker started are removed at the end,
also after a failure or a timeout. A traced run also writes its spans and
per-query detail to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKERS = {"ods_chain": "chain.py", "batch_mix": "mix.py"}
TIMEOUT_S = 170  # per workload run; a hang is recorded as a failed run


def group_members(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def stop_group(pgid: int) -> None:
    """Kill every process left in the worker's process group (the Spark JVM,
    Python workers, the generator) and wait until they are gone."""
    deadline = time.time() + 30
    while group_members(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description="gmall-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", help="Spark master for ods_chain, e.g. local[1]")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "gmall_flink_230422_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout; the gmall_flink_230422_spark "
              "package is missing", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}

    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    result_path = work / "result.json"
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
               TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp),
               SPARK_GRAFT_INDEX_DIR=str(work / "warehouse"),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PERFBENCH_T0=repr(time.time()))
    cmd = [sys.executable, str(HERE / WORKERS[args.workload]), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--result", str(result_path)]
    if args.master and WORKERS[args.workload] == "chain.py":
        cmd += ["--master", args.master]
    result, error = None, None
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
        if rc != 0:
            error = f"worker exited with code {rc}"
        elif result_path.is_file():
            result = json.loads(result_path.read_text())
        else:
            error = "worker wrote no result"
    except subprocess.TimeoutExpired:
        error = f"timed out after {TIMEOUT_S} s"
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()

    if result is None:
        print(f"perfbench: {args.workload} failed: {error}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    values = result["layers"] if args.trace else result["metrics"]
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    if args.trace:
        # the traced run's own end-to-end figures, to compare with an
        # untraced run of the same seed: the difference is the overhead
        for name, v in result["metrics"].items():
            print(f"traced {name} = {fmt(v)}")
        out = root / ".perfbench_out"
        out.mkdir(exist_ok=True)
        trace_file = out / f"trace-{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps(result, indent=1))
        print(f"trace written to {trace_file.relative_to(root)}")
    # the workload's figures under their own names, then the benchmark's
    for name, v, unit in result["named"]:
        print(f"{args.workload}: {name} = {fmt(v)} {unit}")
    for name, m in metrics.items():
        print(f"{name} = {fmt(m['value'])} {m['unit']}")
    correct = result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
