"""Catalog integrity: loud loading, no duplicates, registration order.

Round-1 lesson: `except ImportError: pass` could silently shrink the
catalog, so every catalog module imports unconditionally and a
duplicate name fails at registration. Catalog order is registration
order, and importing the catalog reads no file outside the package.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from feature_store_2_spark.queries import CATALOG  # noqa: E402


def test_catalog_size():
    # Every query family loaded — nothing silently dropped.
    assert len(CATALOG) >= 84, [q.name for q in CATALOG]


def test_no_duplicate_names():
    names = [q.name for q in CATALOG]
    assert len(names) == len(set(names))


# Imports the catalog with every `register` call and every file open
# recorded, then prints what it saw as one JSON line.
_IMPORT_PROBE = """
import json, os, sys

opened, registered = [], []

def audit(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.path.abspath(os.fsdecode(args[0])))

def profile(frame, event, arg):
    if event == "call" and frame.f_code.co_name == "deco" and (
        frame.f_globals.get("__name__") == "feature_store_2_spark.queries"
    ):
        registered.append(
            (frame.f_locals["name"], frame.f_back.f_globals["__name__"])
        )

import pyspark.sql  # noqa: F401  (keeps the profiled import short)

sys.addaudithook(audit)
sys.setprofile(profile)
import feature_store_2_spark.queries as Q
sys.setprofile(None)
print(json.dumps({
    "names": [q.name for q in Q.CATALOG],
    "registered": registered,
    "modules": list(Q._MODULES),
    "opened": opened,
}))
"""


def test_catalog_order_is_registration_order(tmp_path):
    """Two fresh imports, each from a different cwd and hash seed, give
    the same order; that order is the order `register` ran, which is
    `_MODULES` order and then decorator order within each module; and
    the import opens no repo file outside the package (no scoring
    artifact at the repo root steers it)."""
    runs = []
    for seed in ("0", "4242"):
        cwd = tmp_path / f"cwd{seed}"
        cwd.mkdir()
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=ROOT)
        proc = subprocess.run(
            [sys.executable, "-c", _IMPORT_PROBE],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr
        runs.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    a, b = runs
    assert a["names"] == b["names"]
    assert len(a["names"]) == len(CATALOG)
    assert a["names"] == [name for name, _ in a["registered"]]
    prefix = "feature_store_2_spark.queries."
    module_runs = []
    for _, module in a["registered"]:
        if not module_runs or module_runs[-1] != module:
            module_runs.append(module)
    assert module_runs == [prefix + m for m in a["modules"]]
    package = os.path.join(ROOT, "feature_store_2_spark") + os.sep
    for run in runs:
        outside = [
            p for p in run["opened"]
            if p.startswith(ROOT + os.sep) and not p.startswith(package)
        ]
        assert not outside, outside


def test_every_entry_has_fn_and_doc():
    for q in CATALOG:
        assert callable(q.fn), q.name
        assert q.doc, q.name


# Environment-drift canary (round-2 lesson): pyspark 4.1.2 changed how
# the events parquet's timestamps resolve (TIMESTAMP_NTZ), and three
# entries nobody was running crashed at analysis time. Analyzing every
# entry's plan at sf0.001 catches any such runtime drift across the
# whole catalog in CI. Batch entries only touch .schema (analysis,
# no job); streaming entries execute their pipeline when called, which
# is the only way to analyze them — still cheap at sf0.001.
_BATCH_ENTRIES = [q.name for q in CATALOG if not q.name.startswith("stream")]


@pytest.mark.parametrize("name", _BATCH_ENTRIES)
def test_entry_analyzes(spark, sf_dir, name):
    q = next(q for q in CATALOG if q.name == name)
    schema = q.fn(spark, sf_dir).schema
    assert len(schema.fields) > 0, name


def test_bench_headline_names_registered():
    """bench.py crashes (rc=1, empty artifact) on an unknown name —
    pin every HEADLINE entry to the catalog."""
    import bench

    names = {q.name for q in CATALOG}
    missing = [n for n in bench.HEADLINE if n not in names]
    assert not missing, missing
