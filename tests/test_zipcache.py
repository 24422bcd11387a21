"""The package's import hook keeps unchanged zip archives from being
re-read on every ``importlib.invalidate_caches()`` (which a PySpark
worker calls at the start of every task), but still re-reads a replaced
archive. Each case runs the stdlib-only probe in a fresh interpreter."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipimport

import pytest

from prometheus_pulsar_remote_write_spark.zipcache import (
    keep_unchanged_zip_directories,
)

_PROBE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "zip_reread_probe.py")


def _probe(python: str, scratch) -> dict:
    out = subprocess.run(
        [python, _PROBE, str(scratch)],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _interpreters():
    """The running interpreter plus any other CPython 3.10-3.13 on PATH."""
    found = [pytest.param(sys.executable, id="current")]
    for minor in (10, 11, 12, 13):
        exe = shutil.which(f"python3.{minor}")
        if exe and (3, minor) != sys.version_info[:2]:
            found.append(pytest.param(exe, id=f"python3.{minor}"))
    return found


@pytest.mark.parametrize("python", _interpreters())
def test_unchanged_zip_is_not_reread_and_replaced_zip_is(python, tmp_path):
    try:
        got = _probe(python, tmp_path)
    except subprocess.CalledProcessError as exc:
        if python == sys.executable:
            raise
        pytest.skip(f"{python} cannot run the probe: {exc.stderr[-200:]}")
    assert got["new_module"], "a module added to a replaced zip must import"
    if (3, 10) <= tuple(got["version"]) <= (3, 12):
        assert got["hooked"]
        assert got["reads_unchanged"] == 0, got
        assert got["reads_changed"] >= 1, got
    else:
        # 3.13+ only drops the cache entry; the hook must stay out
        assert not got["hooked"]


def test_hook_is_a_noop_outside_3_10_to_3_12(monkeypatch):
    def sentinel(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", sentinel)
    for version in ((3, 13, 0, "final", 0), (3, 9, 18, "final", 0)):
        monkeypatch.setattr(sys, "version_info", version)
        keep_unchanged_zip_directories()
        assert zipimport.zipimporter.invalidate_caches is sentinel


def test_hook_installs_once():
    if not (3, 10) <= sys.version_info[:2] <= (3, 12):
        pytest.skip("the hook is inert on this interpreter")
    hooked = zipimport.zipimporter.invalidate_caches
    assert getattr(hooked, "_keeps_unchanged", False)
    keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is hooked
