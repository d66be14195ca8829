"""Structural lint: each Column primitive is spelled in exactly one place.

The 60-bit md5 hash and the bind-once idiom live in
``real_estate_project1_etl_spark/functions/columns.py``; every other module
(and the query registry ``__spark_entry__.py``) calls ``md5_60`` / ``bind``.
A re-spelled copy would drift (a different cast, a different prefix
length) without any oracle noticing, so this test fails on the first one.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "real_estate_project1_etl_spark"
HOME = PKG / "functions" / "columns.py"

_MD5_HEAD = re.compile(r"conv\((?:F\.)?substring\((?:F\.)?md5\(", re.I)
_BIND = re.compile(r"element_at\((?:F\.)?transform\((?:F\.)?array\(", re.I)


def _sources() -> list[Path]:
    return sorted(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]


def _squeeze(path: Path) -> str:
    return re.sub(r"\s+", "", path.read_text(encoding="utf-8"))


def _md5_60_spellings(code: str) -> int:
    """Count ``conv(substring(md5(<arg>), 1, 15), ...)`` in whitespace-free
    source: the md5 argument is skipped by paren matching, then the
    substring bounds must be exactly ``1,15`` (the DSIR low-hex bucket
    shortcut reads other digits and is a different expression)."""
    n = 0
    for m in _MD5_HEAD.finditer(code):
        depth, i = 1, m.end()
        while i < len(code) and depth:
            depth += {"(": 1, ")": -1}.get(code[i], 0)
            i += 1
        if code.startswith(",1,15)", i):
            n += 1
    return n


def _hits(count) -> dict[str, int]:
    found = {}
    for path in _sources():
        n = count(_squeeze(path))
        if n:
            found[str(path.relative_to(REPO))] = n
    return found


def test_md5_60_has_one_definition():
    assert _hits(_md5_60_spellings) == {str(HOME.relative_to(REPO)): 1}


def test_bind_idiom_has_one_definition():
    hits = _hits(lambda code: len(_BIND.findall(code)))
    assert hits == {str(HOME.relative_to(REPO)): 1}
