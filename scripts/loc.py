#!/usr/bin/env python
"""Count code, comment, docstring and blank lines of Python files.

    python scripts/loc.py stock_crypto_data_pipeline_public_spark/plans \
        stock_crypto_data_pipeline_public_spark/operators

Each line counts once: ``blank`` (whitespace only), ``comment`` (a
full-line ``#`` comment), ``docstring`` (inside a string literal that is a
whole statement) or ``code`` (anything else, trailing comments included).
A directory argument counts every ``*.py`` below it. Prints one row per
file and a total row.
"""

from __future__ import annotations

import sys
import tokenize
from pathlib import Path

KINDS = ("code", "comment", "docstring", "blank")
_LAYOUT = {tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
           tokenize.ENDMARKER, tokenize.ENCODING}


def count(path: Path) -> dict[str, int]:
    with path.open("rb") as f:
        # a trailing comment belongs to its code line; dropping it also lets
        # a docstring with one still end its statement
        toks = [t for t in tokenize.tokenize(f.readline)
                if t.type != tokenize.COMMENT or t.line.lstrip().startswith("#")]
    kind: dict[int, str] = {}
    for prev, tok, nxt in zip(toks, toks[1:], toks[2:]):
        lines = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.COMMENT:
            kind.setdefault(tok.start[0], "comment")
        elif tok.type == tokenize.STRING and prev.type in _LAYOUT and nxt.type == tokenize.NEWLINE:
            kind.update((n, "docstring") for n in lines)
        elif tok.type not in _LAYOUT:
            kind.update((n, "code") for n in lines)
    n_lines = len(path.read_text().splitlines())
    counts = dict.fromkeys(KINDS, 0)
    for n in range(1, n_lines + 1):
        counts[kind.get(n, "blank")] += 1
    return counts


def _row(name: str, counts: dict[str, int]) -> str:
    return f"{name:<60}" + "".join(f"{counts[k]:>10}" for k in KINDS) + f"{sum(counts.values()):>10}"


def main(args: list[str]) -> None:
    files = sorted({f for a in map(Path, args) for f in (a.rglob("*.py") if a.is_dir() else [a])})
    total = dict.fromkeys(KINDS, 0)
    print(f"{'file':<60}" + "".join(f"{k:>10}" for k in (*KINDS, "total")))
    for f in files:
        c = count(f)
        for k in KINDS:
            total[k] += c[k]
        print(_row(str(f), c))
    print(_row("TOTAL", total))


if __name__ == "__main__":
    main(sys.argv[1:] or ["."])
