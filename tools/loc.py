"""Count the library's lines of code: the non-blank, non-comment lines of
``heavy_hitters_spark/`` and ``__spark_entry__.py``, per file and in
total. A line counts when a token other than a comment touches it, so
docstrings count; lines that are blank in the source never do.

Usage: python tools/loc.py [repo_root]   (default: this checkout)
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def count(source: str) -> int:
    """The non-blank lines of ``source`` that a non-comment token touches."""
    lines = source.splitlines()
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return sum(1 for n in code if n <= len(lines) and lines[n - 1].strip())


def files(root: str) -> list[str]:
    out = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "heavy_hitters_spark")):
        out += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return sorted(p for p in out if os.path.isfile(p))


def main() -> None:
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ROOT)
    total = 0
    for path in files(root):
        with open(path, encoding="utf-8") as f:
            n = count(f.read())
        total += n
        print(f"{n:6d}  {os.path.relpath(path, root)}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
