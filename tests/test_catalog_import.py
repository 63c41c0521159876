"""Importing the query catalog opens no data or artifact file, and leaves the
catalog in source order with its entry names unchanged."""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: sha256 of the sorted entry names joined by single spaces. A deliberate
#: catalog edit (adding, dropping or renaming an entry) updates it.
CATALOG_SIZE = 161
CATALOG_SHA256 = "e23cd7dded16198451c9eae0520e03a203316fb9f0ad3eb7c55f29b395cf13b4"

# PySpark reads its own error-class table when imported, so it is imported
# before the hook: only the package's import is under test.
_PROBE = """
import json, sys
import pyspark.sql
opened = []
sys.addaudithook(lambda event, args: opened.append(args[0])
                 if event == "open" and isinstance(args[0], str) else None)
import kamodo_dask_spark.queries
import __spark_entry__
print(json.dumps({
    "opened": [p for p in opened if not p.endswith((".py", ".pyc"))],
    "order": list(kamodo_dask_spark.queries.QUERIES),
    "queries": sorted(__spark_entry__.queries()),
    "oracles": sorted(__spark_entry__.oracle_sql()),
}))
"""


def test_catalog_import_opens_only_python_files():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=_REPO,
        env={**os.environ, "PYTHONPATH": _REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["opened"] == []
    assert got["oracles"] == got["queries"]
    assert len(got["queries"]) == CATALOG_SIZE
    digest = hashlib.sha256(" ".join(got["queries"]).encode()).hexdigest()
    assert digest == CATALOG_SHA256, got["queries"]
    with open(os.path.join(_REPO, "kamodo_dask_spark", "queries.py")) as f:
        assert got["order"] == re.findall(r'@register\(\s*"([^"]+)"', f.read())
