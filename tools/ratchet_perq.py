"""Ratchet BASELINE_PERQ.json floors down to the fastest measurement
ever recorded (VERDICT r14 next-round #1: un-ratcheted floors let a
5x regression in an improved query pass the 1.5x bar silently).

Usage:
    python tools/ratchet_perq.py [--note TEXT] [--round N] RUN.json/log ...

Each argument is a bench.py output file (full-record line with
`queries` + `extra_queries`, same format check_regression.py reads).
Floors only ever move DOWN: new_floor[q] = min(old_floor[q], every
measurement of q across the given runs). Queries not yet in the map
join it at their measured minimum (in whichever of headline/extra the
run record places them). A query floored in both sections (one that
rotated between them) gets the lower floor in both, because
check_regression.py lets the `extra` entry shadow the `headline` one.
Prints a diff and rewrites BASELINE_PERQ.json in place.
"""

from __future__ import annotations

import argparse
import json
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PATH = os.path.join(HERE, "BASELINE_PERQ.json")


def load_run_split(path: str) -> tuple[dict[str, float], dict[str, float]]:
    """(headline map, extra map) from a bench full-record file."""
    with open(path) as f:
        txt = f.read()
    rec = None
    for line in txt.strip().splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        d = json.loads(line)
        if "queries" in d and "extra_queries" in d:
            rec = d
    if rec is None:
        raise SystemExit(f"{path}: no full bench record")
    return (
        {k: float(v) for k, v in rec["queries"].items()},
        {k: float(v) for k, v in rec["extra_queries"].items()},
    )


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--note", help="replace the baseline's box_note")
    p.add_argument("--round", type=int, help="set committed_round")
    p.add_argument("runs", nargs="+", metavar="RUN", help="bench.py output file")
    args = p.parse_args()
    with open(BASELINE_PATH) as f:
        base = json.load(f)
    n_changed = 0
    for path in args.runs:
        hq, eq = load_run_split(path)
        for section, run in (("headline", hq), ("extra", eq)):
            floors = base.setdefault(section, {})
            for q, v in run.items():
                old = floors.get(q)
                if old is None or v < old:
                    floors[q] = round(v, 3)
                    print(
                        f"{section}/{q}: "
                        f"{'NEW' if old is None else old} -> {v:.3f}"
                        f"  ({os.path.basename(path)})"
                    )
                    n_changed += 1
    headline, extra = base["headline"], base["extra"]
    for q in sorted(headline.keys() & extra.keys()):
        low = min(headline[q], extra[q])
        for section, floors in (("headline", headline), ("extra", extra)):
            if floors[q] != low:
                print(f"{section}/{q}: {floors[q]} -> {low:.3f}  (twin)")
                floors[q] = low
                n_changed += 1
    if args.round is not None:
        base["committed_round"] = args.round
    if args.note is not None:
        base["box_note"] = args.note
    with open(BASELINE_PATH, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{n_changed} floors ratcheted; committed_round="
          f"{base.get('committed_round')}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
