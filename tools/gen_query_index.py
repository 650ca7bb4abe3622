"""Regenerate QUERY_INDEX.md from the query registry + driver records.

Emits one row per registered query with its docstring summary AND its
latest green round (``__spark_entry__.latest_green_rounds``, the one
green rule over CORRECTNESS_r*.json) — the window-age
telemetry that keeps each round's 50-slot deferral decisions visible
(VERDICT r6 item 8). Run after adding queries or after a driver round:

    python tools/gen_query_index.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SUMMARY_WIDTH = 170


def summary_of(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    flat = re.sub(r"\s+", " ", doc)
    if len(flat) > SUMMARY_WIDTH:
        flat = flat[: SUMMARY_WIDTH].rstrip() + "..."
    return flat.replace("|", "\\|")


def main() -> int:
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS, ORACLE_SQL, QUERIES
    import __spark_entry__ as entry

    ordered = list(entry.queries())
    green = entry.latest_green_rounds()

    ages: dict[str, int] = {}
    for name in ordered:
        ages[name] = green.get(name, 0)
    n_never = sum(1 for v in ages.values() if v == 0)
    dist: dict[int, int] = {}
    for v in ages.values():
        if v:
            dist[v] = dist.get(v, 0) + 1

    lines = [
        "# QUERY_INDEX — every registered query, generated from the registry",
        "",
        f"{len(ordered)} queries, every one oracle-checked (ORACLE_SQL covers "
        f"{len(ORACLE_SQL)}/{len(QUERIES)}). Order below is driver registration "
        "order — the first ~50 form the driver's per-round CORRECTNESS window "
        "(rotation DERIVED from the CORRECTNESS records since round 11: never-green first, then oldest-green-first — see the __spark_entry__ module docstring and tests/test_driver_window.py).",
        "",
        "## Driver-verification age",
        "",
        "Latest green driver round per query (the data behind each round's "
        "window rotation). Distribution: "
        + ", ".join(f"r{r}: {n}" for r, n in sorted(dist.items(), reverse=True))
        + (f", never: {n_never}" if n_never else ", never: 0")
        + ". Regenerate with `python tools/gen_query_index.py`.",
        "",
        "| # | query | latest green | summary |",
        "|---|---|---|---|",
    ]
    for i, name in enumerate(ordered, start=1):
        g = f"r{green[name]}" if name in green else "never"
        lines.append(f"| {i} | `{name}` | {g} | {summary_of(QUERIES[name])} |")
    lines.append("")
    lines.append(
        f"Plus {len(APPROX_VARIANTS)} approx production-lane variants (timed in "
        "bench.py, tolerance-tested, not hash-checked): "
        + ", ".join(f"`{n}`" for n in sorted(APPROX_VARIANTS))
        + "."
    )
    lines.append("")
    out = os.path.join(REPO, "QUERY_INDEX.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"QUERY_INDEX.md regenerated ({len(ordered)} queries, "
          f"{n_never} never-green)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
