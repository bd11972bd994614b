"""The shipped ``--py-files`` package matches the source tree."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dist_zip_is_exactly_the_package_sources():
    """``dist/src_to_kb_spark.zip`` holds exactly
    ``src_to_kb_spark/**/*.py``, byte for byte — rebuild it with
    ``python tools/package_pyfiles.py`` after any package change."""
    sources = {}
    for dirpath, _dirnames, filenames in os.walk(
        os.path.join(ROOT, "src_to_kb_spark")
    ):
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    sources[os.path.relpath(full, ROOT)] = f.read()

    with zipfile.ZipFile(os.path.join(ROOT, "dist", "src_to_kb_spark.zip")) as z:
        shipped = {name: z.read(name) for name in z.namelist()}

    assert sorted(shipped) == sorted(sources)
    stale = [name for name in sources if shipped[name] != sources[name]]
    assert not stale, f"rebuild the zip, stale: {stale}"
