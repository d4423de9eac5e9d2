"""Generate QUERIES.md: the full query inventory from the live registry —
name, gate kind (DuckDB value-hash oracle vs rows-only), and the first
docstring line of each query function.  Run after adding queries.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cloudpelican_lsd_spark import registry


def _doc(fn) -> str:
    raw = " ".join((fn.__doc__ or "").strip().split())
    # first sentence (up to a period followed by space/end), not first line
    cut = raw.find(". ")
    doc = raw[: cut + 1] if cut != -1 else raw
    if len(doc) > 140:
        doc = doc[:137] + "..."
    return doc


def main() -> None:
    rows = [
        (name, "oracle", _doc(fn))
        for name, fn in sorted(registry.QUERIES.items())
    ]
    ungated = [
        (name, "rows-only", _doc(fn))
        for name, fn in sorted(registry.UNGATED.items())
    ]
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as fh:
        fh.write(
            "# QUERIES — the driver-gated inventory\n\n"
            f"{len(rows)} gated queries, every one with a full DuckDB "
            "value-hash oracle.  Generated by `tools/query_catalog.py` "
            "from the live registry — each name is an entry in "
            "`__spark_entry__.queries()`.\n\n"
            "| query | gate | what it does |\n|---|---|---|\n"
        )
        for name, gate, doc in rows:
            fh.write(f"| `{name}` | {gate} | {doc} |\n")
        fh.write(
            f"\n## Ungated library queries ({len(ungated)})\n\n"
            "Rows-only by design (approximate sketch / stateful numpy "
            "consensus — no SQL-expressible value oracle).  Kept OUT of "
            "`queries()` so the driver gate contains no guaranteed-red "
            "rows; each has a fully-oracled contract twin above "
            "(`distinct_users_hll_audit`; the seven relational "
            "outlier-analyzer twins).  Still benched and pytest-covered.\n\n"
            "| query | gate | what it does |\n|---|---|---|\n"
        )
        for name, gate, doc in ungated:
            fh.write(f"| `{name}` | {gate} | {doc} |\n")
    print(
        f"wrote QUERIES.md with {len(rows)} gated + {len(ungated)} ungated"
    )


if __name__ == "__main__":
    main()
