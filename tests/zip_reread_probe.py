"""Stdlib-only probe for the package's zip-directory cache hook.

Run as ``python tests/zip_reread_probe.py <scratch dir>`` under any
interpreter; prints one JSON object:

  hooked          -- zipimporter.invalidate_caches is the package's hook
  reads_unchanged -- _read_directory calls for the archive over three
                     importlib.invalidate_caches() with it unchanged
  reads_changed   -- the same for one call after the archive is replaced
  new_module      -- a module added by the replacement imports
  version         -- the interpreter's [major, minor]
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, modules: dict) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


def probe(scratch: str) -> dict:
    sys.path.insert(0, REPO)
    import prometheus_pulsar_remote_write_spark  # noqa: F401  (installs the hook)

    archive = os.path.join(scratch, "probe.zip")
    modules = {"zcprobe/__init__.py": "", "zcprobe/a.py": "A = 1\n"}
    _write_zip(archive, modules)
    sys.path.insert(0, archive)
    importlib.import_module("zcprobe.a")  # one importer per package level

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    zipimport._read_directory = counting_read
    importlib.invalidate_caches()  # the hook's first look at the archive
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    reads_unchanged = len(reads)

    _write_zip(archive, dict(modules, **{"zcprobe/b.py": "B = 2\n"}))
    del reads[:]
    importlib.invalidate_caches()
    reads_changed = len(reads)
    new_module = importlib.import_module("zcprobe.b").B == 2
    return {
        "hooked": getattr(
            zipimport.zipimporter.invalidate_caches, "_keeps_unchanged", False
        ),
        "reads_unchanged": reads_unchanged,
        "reads_changed": reads_changed,
        "new_module": new_module,
        "version": list(sys.version_info[:2]),
    }


if __name__ == "__main__":
    print(json.dumps(probe(sys.argv[1])))
