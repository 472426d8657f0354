"""The streaming package's import hook (streaming/__init__.py) makes
google.protobuf importable in any process that imports the package —
the transformWithStateInPandas worker's case — with no PYTHONPATH set
and no JVM. Each case runs in a fresh interpreter."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _run(code: str) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    return done.stdout.strip()


def test_hook_shadows_a_namespace_protobuf(tmp_path):
    """A jar on a worker's path yields google/protobuf as an empty
    namespace package, first on sys.path: after the package import the
    protobuf runtime (and pyspark's state messages) still import."""
    (tmp_path / "google" / "protobuf").mkdir(parents=True)
    out = _run(f"""
import sys
sys.path.insert(0, {str(tmp_path)!r})
import kafka_streams_app_spark.streaming
from google.protobuf import descriptor
from pyspark.sql.streaming.proto import StateMessage_pb2
print(descriptor.__file__)
""")
    assert out.endswith(os.path.join("google", "protobuf", "descriptor.py"))
    assert not out.startswith(str(tmp_path))


def test_hook_leaves_an_installed_protobuf_alone(tmp_path):
    """Where google.protobuf already imports (an installed wheel), the
    hook adds nothing to sys.path and that runtime stays in use."""
    pkg = tmp_path / "google" / "protobuf"
    pkg.mkdir(parents=True)
    (tmp_path / "google" / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "descriptor.py").write_text("")
    out = _run(f"""
import sys
sys.path.insert(0, {str(tmp_path)!r})
import kafka_streams_app_spark.streaming
from google.protobuf import descriptor
assert not any(p.endswith("_vendor") for p in sys.path), sys.path
print(descriptor.__file__)
""")
    assert out == str(pkg / "descriptor.py")
