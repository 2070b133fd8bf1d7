"""Non-comment line count of the GUN core.

A line counts when it is not blank and holds a token other than a
comment; every non-blank line of a string that spans several lines
counts, so docstrings are counted.

Usage: python tools/gun_core_loc.py [ROOT]   (ROOT defaults to this
checkout; prints one ``<lines> <file>`` row per module, then the total)
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

CORE = [
    "esgopeta_spark/graph.py",
    "esgopeta_spark/ham.py",
    "esgopeta_spark/storage.py",
    "esgopeta_spark/sources/io.py",
    "esgopeta_spark/streaming/upsert.py",
]
_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    """Non-blank lines of ``source`` that hold a non-comment token."""
    lines = source.splitlines()
    counted: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _LAYOUT:
            counted.update(range(tok.start[0], tok.end[0] + 1))
    return sum(1 for n in counted if lines[n - 1].strip())


def main(root: str) -> None:
    total = 0
    for rel in CORE:
        with open(os.path.join(root, rel), encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:5d} {rel}")
    print(f"{total:5d} total")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
