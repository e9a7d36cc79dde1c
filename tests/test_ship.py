"""ship.ensure_shipped: a fresh, uniquely named package zip per process,
registered once per SparkContext and removed at interpreter exit. No
Spark needed — a recording stand-in replaces the SparkContext."""

import os
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

from weaviate_txtai_spark import ship

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _RecordingContext:
    def __init__(self):
        self.added = []

    def addPyFile(self, path):
        self.added.append(path)


def _session():
    return SimpleNamespace(sparkContext=_RecordingContext())


def test_stale_zip_at_pid_name_is_not_shipped(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(ship, "_SHIPPED", set())
    monkeypatch.setattr(ship, "_ZIP", None)
    # what another process with this pid would have left behind
    stale = tmp_path / f"weaviate_txtai_spark_{os.getpid()}.zip"
    stale.write_bytes(b"not the current package")

    a, b = _session(), _session()
    ship.ensure_shipped(a)
    ship.ensure_shipped(a)  # once per context
    ship.ensure_shipped(b)  # a new context reuses this process's zip
    assert len(a.sparkContext.added) == 1
    assert b.sparkContext.added == a.sparkContext.added
    shipped = a.sparkContext.added[0]
    assert os.path.abspath(shipped) != os.path.abspath(stale)
    assert stale.read_bytes() == b"not the current package"
    with zipfile.ZipFile(shipped) as zf:
        src = zf.read("weaviate_txtai_spark/ship.py").decode()
    with open(ship.__file__) as fh:
        assert src == fh.read()


def test_zip_removed_at_interpreter_exit(tmp_path):
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from types import SimpleNamespace\n"
        "from weaviate_txtai_spark import ship\n"
        "added = []\n"
        "sc = SimpleNamespace(addPyFile=added.append)\n"
        "ship.ensure_shipped(SimpleNamespace(sparkContext=sc))\n"
        "import os; assert os.path.exists(added[0])\n"
        "print(added[0])\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code, _ROOT],
        env=env, capture_output=True, text=True, check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)
