"""Hard-signal ledger: for every registered query, which round's driver
CORRECTNESS file proved it (rows+schema+hash), and where it sits in the
current DRIVER_ORDER window.

Writes LEDGER.md: one row per query — the cross-round proof that the
whole registry has (or is scheduled for) a driver-side correctness row.

Usage: python tools/coverage_ledger.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cloudpelican_lsd_spark import registry  # noqa: E402


def _family_map(names: list[str]) -> dict[str, str]:
    """Query name -> family via the ONE shared prefix map
    (registry._core.FAMILIES — also what the lockstep gate test uses)."""
    return {n: registry.family_of(n) for n in names}


def main() -> None:
    rounds: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = path.rsplit("_r", 1)[1].split(".")[0]
        rounds[rnd] = json.load(open(path))

    names = list(registry.QUERIES)

    # Freshness-debt dashboard (VERDICT r6 item 7): with 226 queries and
    # a 50-slot window, ~4.5 rounds separate driver re-checks — the next
    # round's rotation should be chosen mechanically from the stalest
    # families, so surface oldest/newest green per family up front.
    newest_green: dict[str, int] = {}
    for rnd in sorted(rounds):
        for q, row in rounds[rnd].items():
            if row.get("hash_match"):
                newest_green[q] = max(newest_green.get(q, 0), int(rnd))
    fam_of = _family_map(names)
    latest_round = max((int(r) for r in rounds), default=0)
    fam_stats: dict[str, list[int | None]] = {}
    for q in names:
        fam_stats.setdefault(fam_of[q], []).append(newest_green.get(q))
    fresh_lines = [
        "## Freshness debt by family",
        "",
        "`oldest green` = the family's stalest driver-green round"
        " (`never` = a member has no driver row yet);"
        " `max staleness` = rounds since that oldest green."
        "  Pick the next window from the top of this table.",
        "",
        "| family | queries | oldest green | max staleness (rounds) |",
        "|---|---|---|---|",
    ]
    def _debt_key(kv):
        greens = kv[1]
        oldest = min((g for g in greens), key=lambda g: (g is not None, g))
        return (0, 0) if oldest is None else (1, oldest)
    for fam, greens in sorted(fam_stats.items(), key=_debt_key):
        if any(g is None for g in greens):
            oldest_s, stale_s = "never", "inf"
        else:
            oldest = min(greens)
            oldest_s, stale_s = f"r{oldest:02d}", str(latest_round - oldest)
        fresh_lines.append(
            f"| {fam} | {len(greens)} | {oldest_s} | {stale_s} |"
        )
    fresh_lines.append("")

    lines = [
        "# LEDGER — driver hard-signal coverage across rounds",
        "",
        "Generated by tools/coverage_ledger.py.  `green rNN` = full"
        " rows+schema+hash pass in that round's driver CORRECTNESS file;"
        " `rows-only rNN` = driver row-count check (no SQL oracle, by"
        " design); `window slot K` = scheduled for the next driver run;"
        " `pending` = will rotate into a later window.",
        "",
    ] + fresh_lines + [
        "## Per-query ledger",
        "",
        "| # | query | oracle | hard signal |",
        "|---|---|---|---|",
    ]
    n_green = n_rows_only = n_window = n_pending = 0
    n_failed = 0
    for i, name in enumerate(names, 1):
        status = None
        # newest round containing the query wins — a failure there must
        # NOT be masked by an older green (that would render a live
        # regression as proof of correctness)
        for rnd in sorted(rounds, reverse=True):
            row = rounds[rnd].get(name)
            if not row:
                continue
            if row.get("rows_match") and row.get("schema_match") and row.get(
                "hash_match"
            ):
                status = f"green r{rnd}"
            elif row.get("spark_rows") is not None and name not in registry.ORACLES:
                status = f"rows-only r{rnd}"
            else:
                status = f"**FAILED r{rnd}**"
                n_failed += 1
            break
        if status is None:
            if i <= 50:
                status = f"window slot {i}"
                n_window += 1
            else:
                status = "pending (slots 51+ rotate next round)"
                n_pending += 1
        elif status.startswith("green"):
            n_green += 1
        elif status.startswith("rows-only"):
            n_rows_only += 1
        has_oracle = "yes" if name in registry.ORACLES else "rows-only"
        lines.append(f"| {i} | {name} | {has_oracle} | {status} |")

    lines += [
        "",
        f"**Totals: {len(names)} queries — {n_green} green on a prior"
        f" round's driver signal, {n_rows_only} rows-only checked,"
        f" {n_window} scheduled in the CURRENT 50-slot window,"
        f" {n_pending} pending a later window rotation"
        + (f", {n_failed} FAILED in their newest round" if n_failed else "")
        + ".**",
        "",
        "## Ungated library queries (registry.UNGATED)",
        "",
        "Rows-only by design — kept out of the driver gate so it contains"
        " no row that cannot hash-match; each has a fully-oracled contract"
        " twin in the gate and stays benched + pytest-covered.",
        "",
    ] + [f"- `{name}`" for name in registry.UNGATED] + [""]
    with open(os.path.join(ROOT, "LEDGER.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(
        f"wrote LEDGER.md: {len(names)} queries, {n_green} green,"
        f" {n_rows_only} rows-only, {n_window} in window, {n_pending} pending"
        + (f", {n_failed} FAILED" if n_failed else "")
    )


if __name__ == "__main__":
    main()
