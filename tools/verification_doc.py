"""Generate VERIFICATION.md: the evidence ledger for every catalog
query — which round's driver correctness row proves it (if any), and
what local verification the unproven backlog carries meanwhile.

Sources: the CORRECTNESS_r*.json rows as plans/catalog.py reads them
(``_proven_round``) and its hand-kept ``_CHANGED_AFTER`` staleness map.

Run after catalog changes: PYTHONPATH=. python tools/verification_doc.py
"""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> None:
    from mousedatapipeline_spark.plans.catalog import (
        _CHANGED_AFTER,
        _proven_round,
        all_queries,
    )
    qs = all_queries()
    rows = []
    for name, spec in qs.items():
        if rnd := _proven_round(name):
            state = f"driver-green (r{rnd:02d})"
        elif name in _CHANGED_AFTER:
            state = f"re-verify (changed after r{_CHANGED_AFTER[name]:02d})"
        elif spec.oracle is None:
            state = "rows-only (non-SQL kernel; closed-form tests)"
        else:
            state = "local-green (queued for driver)"
        rows.append((name, state))
    n_proven = sum(_proven_round(n) > 0 for n, _ in rows)
    n_rows_only = sum(qs[n].oracle is None for n, _ in rows)
    n_queued = len(rows) - n_proven - n_rows_only
    lines = [
        "# VERIFICATION — evidence ledger",
        "",
        "Every oracled query is checked locally against its DuckDB",
        "oracle at BOTH sf0.01 and sf0.1 before commit",
        "(tools/check_correctness.py); the driver independently",
        "re-proves a ~50-query prefix per round and records",
        "CORRECTNESS_r{N}.json. Registration order IS the evidence",
        "policy (plans/catalog.py): unproven queries claim the prefix,",
        "proven ones yield it, changed queries rejoin the pool.",
        "",
        f"State: **{n_proven} driver-proven**, **{n_queued} local-green",
        f"queued for driver rows**, **{n_rows_only} rows-only** "
        f"(of {len(rows)} total).",
        "",
        "| query | evidence |",
        "|---|---|",
    ]
    lines += [f"| {n} | {s} |" for n, s in sorted(rows)]
    # Preserve the hand-maintained appendix (cross-cutting evidence
    # that isn't derivable from catalog.py) across regenerations.
    out = ROOT / "VERIFICATION.md"
    if out.exists():
        old = out.read_text()
        marker = old.find("\n## ")
        if marker != -1:
            lines.append(old[marker:].rstrip("\n"))
    out.write_text("\n".join(lines) + "\n")
    print(f"VERIFICATION.md: {len(rows)} queries "
          f"({n_proven} proven / {n_queued} queued / {n_rows_only} rows-only)")


if __name__ == "__main__":
    main()
