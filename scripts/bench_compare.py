"""Bench regression guard: compare bench outputs per query. Each input
is a `bench.py` sidecar (bench_detail_sf*_c*.json), a
BENCH_r{N}.json artifact, or raw `python bench.py` stdout — all carry a
`queries` dict; only sidecars carry per-query `counts`.

Several runs per side are min-merged: each query's wall time and each
of its counts take their minimum over that side's runs. On a shared
host one query's wall time can differ 2-3x between two full runs of
the same tree; the per-query minimum recovers the steady state, as
bench.py's min-of-2 does within a run. Counts barely move (a few
AQE-variant queries differ by one job), so they are gated exactly.

Flags (exit 1 if any):
- wall: slower by MORE than 25% AND more than 0.2 s;
- counts: jobs or stages rose (where both sides carry counts).
Queries present on one side only are listed as added/removed.

Usage: python scripts/bench_compare.py OLD [OLD ...] -- NEW [NEW ...]
       python scripts/bench_compare.py OLD NEW
"""

from __future__ import annotations

import json
import sys

GATED_COUNTS = ("jobs", "stages")


def load(path: str) -> dict:
    """The detail object of a bench output: whole-file JSON (sidecar or
    BENCH artifact, whose detail may sit under "parsed") or the last
    JSON line with a queries dict in raw stdout."""
    with open(path) as fh:
        text = fh.read()
    best: dict | None = None
    try:
        objs = [json.loads(text)]
    except json.JSONDecodeError:
        objs = []
        for line in text.splitlines():
            if line.strip().startswith("{"):
                try:
                    objs.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    for obj in objs:
        if isinstance(obj, dict) and isinstance(obj.get("parsed"), dict):
            obj = obj["parsed"]
        if isinstance(obj, dict) and isinstance(obj.get("queries"), dict):
            best = obj
    if best is None:
        raise SystemExit(f"{path}: no JSON line with a queries dict "
                         "(a stdout tail capture may have truncated it)")
    return best


def minmerge(paths: list[str]) -> tuple[dict[str, float], dict[str, dict]]:
    """(wall, counts) per query, each value the minimum over ``paths``."""
    wall: dict[str, float] = {}
    counts: dict[str, dict] = {}
    for p in paths:
        detail = load(p)
        for q, v in detail["queries"].items():
            if v is not None:
                wall[q] = min(wall.get(q, v), v)
        for q, c in (detail.get("counts") or {}).items():
            if c is not None:
                merged = counts.setdefault(q, dict(c))
                for k, v in c.items():
                    merged[k] = min(merged.get(k, v), v)
    return wall, counts


def main(argv: list[str]) -> int:
    if "--" in argv:
        split = argv.index("--")
        old_paths, new_paths = argv[:split], argv[split + 1:]
    elif len(argv) == 2:
        old_paths, new_paths = argv[:1], argv[1:]
    else:
        raise SystemExit(__doc__)
    if not old_paths or not new_paths:
        raise SystemExit(__doc__)
    old, old_counts = minmerge(old_paths)
    new, new_counts = minmerge(new_paths)
    shared = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    regressions, improved = [], []
    for q in shared:
        a, b = old[q], new[q]
        if b > a * 1.25 and b - a > 0.2:
            regressions.append((q, a, b))
        elif a > b * 1.25 and a - b > 0.2:
            improved.append((q, a, b))
    count_rises = [
        (q, k, old_counts[q][k], new_counts[q][k])
        for q in sorted(set(old_counts) & set(new_counts))
        for k in GATED_COUNTS
        if new_counts[q][k] > old_counts[q][k]
    ]
    tot_old = sum(old[q] for q in shared)
    tot_new = sum(new[q] for q in shared)
    for q, a, b in sorted(regressions, key=lambda t: t[1] - t[2]):
        print(f"REGRESSION {q}: {a:.2f}s -> {b:.2f}s ({b / a:.2f}x)")
    for q, k, a, b in count_rises:
        print(f"REGRESSION {q}: {k} {a} -> {b}")
    for q, a, b in sorted(improved, key=lambda t: t[2] - t[1]):
        print(f"improved   {q}: {a:.2f}s -> {b:.2f}s ({b / a:.2f}x)")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    ratio = tot_new / tot_old if tot_old else float("nan")
    print(json.dumps({
        "runs_old": len(old_paths),
        "runs_new": len(new_paths),
        "shared": len(shared),
        "total_old_sec": round(tot_old, 2),
        "total_new_sec": round(tot_new, 2),
        "shared_ratio": round(ratio, 3),
        "n_regressions": len(regressions),
        "n_count_rises": len(count_rises),
        "n_improved": len(improved),
    }))
    return 1 if regressions or count_rises else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
