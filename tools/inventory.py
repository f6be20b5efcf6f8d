"""Rewrite README.md's query inventory from the registry: every class of
``queries()`` in driver order with its family, its verification mode
(the DuckDB oracle, or the test file that gates it) and the first
sentence of its docstring.

Usage: python tools/inventory.py
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

README = ROOT / "README.md"
BEGIN, END = "<!-- inventory:begin -->", "<!-- inventory:end -->"


def summary(fn, width: int = 100) -> str:
    """The first sentence of ``fn``'s docstring, cut to ``width``."""
    doc = " ".join((fn.__doc__ or "").split())
    first = re.split(r"(?<=\.)\s", doc, maxsplit=1)[0]
    if len(first) > width:
        first = first[:width].rsplit(" ", 1)[0] + " …"
    return first.replace("|", "\\|")


def block() -> str:
    """The inventory, markers included."""
    from datasketches_rust_spark.queries import _registry
    qs = _registry.ordered()
    oracled = sum(q.oracle is not None for q in qs)
    fams = Counter(q.family for q in qs)
    rows = [BEGIN,
            f"{len(qs)} classes: {oracled} checked against a DuckDB oracle "
            f"(rows 1-{_registry.WINDOW} are the driver's hash window), "
            f"{len(qs) - oracled} gated by a test file. By family: "
            + ", ".join(f"{f} {fams[f]}" for f in _registry.FAMILIES) + ".",
            "",
            "| # | query | family | verification | summary |",
            "|---|---|---|---|---|"]
    rows += [f"| {i} | {q.name} | {q.family} | {q.mode} | {summary(q.fn)} |"
             for i, q in enumerate(qs, 1)]
    return "\n".join(rows + [END])


def main() -> int:
    text = README.read_text()
    head, rest = text.split(BEGIN, 1)
    README.write_text(head + block() + rest.split(END, 1)[1])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
