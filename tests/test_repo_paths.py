"""Static check: every repository path the program, its tests, its
scripts or the README name under ``docs/``, ``scripts/`` or ``plans/``
exists, so a deleted artifact or script cannot stay cited."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# a path starts at a word boundary (not inside another path or URL) and
# ends on a character that cannot be sentence punctuation
_PATH = re.compile(r"(?<![\w./-])((?:docs|scripts|plans)/[\w.*{}<>/-]*[\w*}>])")
_PLACEHOLDER = re.compile(r"[*{<]")


def _sources() -> list[Path]:
    return [
        *(REPO / "mercurygate_spark").rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
        *(REPO / "scripts").rglob("*.py"),
        REPO / "bench.py",
        REPO / "README.md",
    ]


def _exists(path: str) -> bool:
    """A concrete path must exist; a pattern (``*``, ``{N}``, ``<name>``)
    must have its directory up to the first placeholder."""
    if not _PLACEHOLDER.search(path):
        return (REPO / path).exists()
    fixed = _PLACEHOLDER.split(path, maxsplit=1)[0]
    return (REPO / fixed.rsplit("/", 1)[0]).is_dir()


def test_named_repo_paths_exist():
    missing = {}
    for src in _sources():
        for m in _PATH.finditer(src.read_text()):
            if not _exists(m.group(1)):
                missing.setdefault(m.group(1), []).append(src.relative_to(REPO).as_posix())
    assert not missing, missing
