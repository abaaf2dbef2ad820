"""Scratch directories (``catalog.scratch_dir``) live only as long as the
process that named them: the default root is RAM-backed, so every
leftover directory holds memory until reboot. A child process names and
fills a scratch dir, forks a grandchild that exits normally (it inherits
the exit hook but must not remove its parent's dir), and exits; the dir
is gone afterwards."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import os, sys
sys.path.insert(0, {repo!r})
from iceberg_examples_spark.catalog import scratch_dir

path = scratch_dir("/data/sf0.001", "probe", fresh=True)
os.makedirs(os.path.join(path, "t"))
open(os.path.join(path, "t", "f.parquet"), "w").close()
pid = os.fork()
if pid == 0:
    sys.exit(0)
os.waitpid(pid, 0)
print("PATH", path)
print("KEPT", os.path.isdir(path))
"""


def test_scratch_dirs_removed_at_exit(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_ROOT=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    out = dict(ln.split(" ", 1) for ln in proc.stdout.splitlines())
    assert out.get("KEPT") == "True", proc.stderr[-3000:]
    assert os.path.dirname(out["PATH"]) == str(tmp_path)
    assert not os.path.exists(out["PATH"])
    assert os.listdir(tmp_path) == []
