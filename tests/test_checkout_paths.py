"""The package, bench.py, scripts/ and tests/ locate the checkout,
never hard-code it.

Every path under the checkout (the ``.tmp`` scratch root, compiled
classes, the metastore, ``BENCH_local.json``, the artifacts the
scripts write, the tests' fixtures and subprocess working directory)
derives from ``session.PACKAGE_ROOT`` or the script's own
``__file__``, so a clone elsewhere on disk imports and writes its own
tree. Run from this checkout, the test fails on any source line
spelling the checkout's absolute path, bare or with a suffix."""

from __future__ import annotations

import glob
import os
import re

from layer_apache_hive_spark.session import PACKAGE_ROOT


def _sources():
    yield os.path.join(PACKAGE_ROOT, "bench.py")
    for d in ("scripts", "tests"):
        yield from sorted(glob.glob(os.path.join(PACKAGE_ROOT, d, "*.py")))
    pkg = os.path.join(PACKAGE_ROOT, "layer_apache_hive_spark")
    for d, _, files in os.walk(pkg):
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_no_source_hard_codes_the_checkout_path():
    # the root itself, not a longer name that starts with it
    needle = re.compile(re.escape(PACKAGE_ROOT.rstrip(os.sep)) + r"(?![\w.-])")
    hits = [
        f"{os.path.relpath(path, PACKAGE_ROOT)}:{n}"
        for path in _sources()
        for n, line in enumerate(open(path), start=1)
        if needle.search(line)
    ]
    assert not hits, hits
