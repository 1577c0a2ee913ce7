"""The package and bench.py locate the checkout, never hard-code it.

Every path under the checkout (the ``.tmp`` scratch root, compiled
classes, the metastore, ``BENCH_local.json``) derives from
``session.PACKAGE_ROOT``, so a clone elsewhere on disk writes into its
own tree. Run from this checkout, the test fails on any source line
spelling the checkout's absolute path."""

from __future__ import annotations

import os

from layer_apache_hive_spark.session import PACKAGE_ROOT


def _sources():
    yield os.path.join(PACKAGE_ROOT, "bench.py")
    pkg = os.path.join(PACKAGE_ROOT, "layer_apache_hive_spark")
    for d, _, files in os.walk(pkg):
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_no_source_hard_codes_the_checkout_path():
    needle = PACKAGE_ROOT.rstrip(os.sep) + os.sep
    hits = [
        f"{os.path.relpath(path, PACKAGE_ROOT)}:{n}"
        for path in _sources()
        for n, line in enumerate(open(path), start=1)
        if needle in line
    ]
    assert not hits, hits
