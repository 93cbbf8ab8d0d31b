"""The registry's streaming twins share one runner and one scratch root.

- Every AvailableNow run in ``plans/`` goes through ``streamq.drain`` and
  every temp directory through ``plans.scratch_dir``: a structural guard
  over the source, in the style of test_plan_invariants.py.
- The scratch root is removed when the interpreter exits: a child process
  with its own ``TMPDIR`` runs one streaming twin and exits, and nothing
  it made is left behind.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

from gmall_flink_230422_spark.io import DEFAULT_SF_DIR

ROOT = Path(__file__).resolve().parent.parent
PLANS = ROOT / "gmall_flink_230422_spark" / "plans"
SF_DIR = str(Path(DEFAULT_SF_DIR).with_name("sf0.001"))  # smallest fixture tier


def _call_sites(attr: str) -> list[tuple[str, str]]:
    """(file, enclosing function) of every call to ``<x>.attr(...)`` or
    ``attr(...)`` across plans/."""
    sites = []
    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text())

        def visit(node, fn="<module>"):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == attr:
                    sites.append((path.name, fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(tree)
    return sites


def test_one_runner_and_one_scratch_root():
    assert _call_sites("mkdtemp") == [("__init__.py", "scratch_dir")]
    assert _call_sites("awaitTermination") == [("streamq.py", "drain")]


_CHILD = """
import os, sys, tempfile
from gmall_flink_230422_spark.plans import registry
from gmall_flink_230422_spark.session import get_spark

spark = get_spark("scratch-probe", master="local[2]", shuffle_partitions=2)
n = registry()["s_stream_tumble_keyed"].fn(spark, sys.argv[1]).count()
assert n > 0, n
print("DURING", " ".join(sorted(os.listdir(tempfile.gettempdir()))))
"""


def _ours(names):
    return [n for n in names if n.startswith(("gmall_scratch_", "streamq_"))]


def test_scratch_root_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(ROOT))
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, SF_DIR],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    during = next(
        line.split()[1:] for line in res.stdout.splitlines() if line.startswith("DURING")
    )
    # the run did use TMPDIR, so an empty listing afterwards means clean-up
    assert _ours(during), during
    assert _ours(os.listdir(tmp_path)) == []
