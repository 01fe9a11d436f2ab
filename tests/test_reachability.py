"""scripts/reachability.py: every package module is reached from a
query, benchmark or script (the scalar oracle is the one allowed
exception), and the walk does flag a module that only tests import."""

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "reachability.py")


def _load():
    spec = importlib.util.spec_from_file_location("reachability", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_package_module_reached_only_by_tests():
    r = subprocess.run([sys.executable, SCRIPT], capture_output=True,
                       text=True, timeout=120)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "UNREACHED" not in r.stdout


def test_walk_flags_test_only_module(tmp_path):
    reach = _load()
    pkg = tmp_path / "cuckoo_filter_spark"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from . import used\n")
    (pkg / "used.py").write_text(
        "def f():\n    from .sub.deep import g\n")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "deep.py").write_text("g = 1\n")
    (pkg / "sub" / "orphan.py").write_text("x = 1\n")
    (pkg / "only_tests.py").write_text("y = 1\n")
    (tmp_path / "__spark_entry__.py").write_text(
        "import cuckoo_filter_spark\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_x.py").write_text(
        "from cuckoo_filter_spark import only_tests\n")
    assert reach.unreached(str(tmp_path)) == [
        "cuckoo_filter_spark.only_tests", "cuckoo_filter_spark.sub.orphan"]
