"""Every committed-artifact citation must resolve: a ``BENCH_*.json`` named
in the library, the bench scripts or the measurement docs has to exist in
the repo root, or the "measured" claim it backs cannot be checked."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ["kgforge", "bench", "bench.py", "README.md", "BASELINE.md", "COVERAGE.md"]
ARTIFACT = re.compile(r"BENCH_[A-Za-z0-9_]+\.json")


def _cited() -> dict[str, list[str]]:
    files: list[Path] = []
    for name in SOURCES:
        p = ROOT / name
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    cited: dict[str, list[str]] = {}
    for f in files:
        for m in ARTIFACT.findall(f.read_text(encoding="utf-8")):
            cited.setdefault(m, []).append(str(f.relative_to(ROOT)))
    return cited


def test_cited_bench_artifacts_exist():
    cited = _cited()
    assert cited  # the scan itself must find the citations
    missing = {name: srcs for name, srcs in cited.items() if not (ROOT / name).is_file()}
    assert not missing, missing
