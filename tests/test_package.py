"""The --py-files artifact must be importable from the zip alone (the
executor-side condition of the spark-submit run mode): build it, then in a
clean subprocess whose only package path is the zip, import the modules
the cluster surface needs and run the pure-Python mention lexer."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from kgforge.package import build_zip

CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
import kgforge, kgforge.pipeline, kgforge.lexer, kgforge.constants
import kgforge.stages.mentions, kgforge.stages.link, kgforge.stages.canonical
import kgforge.stages.materialize, kgforge.checkpoint, kgforge.schemas
import kgforge.simjoin, kgforge.iterate, kgforge.operators.dedup
assert kgforge.__file__.startswith(sys.argv[1]), kgforge.__file__
ms = kgforge.lexer.lex("python", "pkg/mod.py", "import os\ndef f():\n    pass\n")
kinds = {m[0] for m in ms}
assert "module" in kinds and "import" in kinds, ms
print("ZIPOK", len(ms))
"""


def test_pyfiles_zip_is_self_contained(tmp_path):
    out = str(tmp_path / "kgforge.zip")
    n = build_zip(out)
    assert n > 20
    names = zipfile.ZipFile(out).namelist()
    assert "kgforge/pipeline.py" in names
    assert "kgforge/data/ontology.yml" in names  # bundled data rides along
    assert not any("__pycache__" in m for m in names)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", CHILD, out],
        cwd=str(tmp_path),  # not the repo — the zip must stand alone
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert "ZIPOK" in res.stdout
