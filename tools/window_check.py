"""Grading-window invariant check (one command for the per-round rule).

Since r8 the 50-slot driver window is ALL oracle-bearing (the rows-only
priority slot retired when every rows-only entry got its observation).
Since r9 the tool also verifies the VINTAGE invariant against the
CORRECTNESS_r*.json artifacts themselves (VERDICT r8 directive 1 — the
mm_features_stats omission class): the window must re-grade the
LEAST-recently-green oracles first, so

  * every oracle the driver has NEVER hash-greened must be in the
    window (new entries grade in the round they land);
  * with V = the NEWEST vintage among non-jump-queue window members
    (ADVICE r9 — the code always computed max; a window that clears
    vintages oldest-first admits members of at most two adjacent
    vintage classes, so "nothing strictly older than the newest
    member waits outside" is the strong form of the rotation rule),
    every oracle STRICTLY older than V must be in the window;
  * within the boundary vintage class V itself, the in-window members
    must be the alphabetical prefix (the recorded block convention —
    a silent mid-block omission is exactly the r8 bug).

Jump-queue members (entry_queries.JUMP_QUEUE — code changed since
their last green) are exempt: they re-grade out of turn by design.

entry_queries orders the registry from the same artifacts on import, so
a new CORRECTNESS artifact rotates the window by itself; this tool reads
the artifacts on its own and is the independent test of that sort.

Run after ANY registry change:

    python tools/window_check.py            # prints window, exits 1 on violation
    python tools/window_check.py name1 ...  # also assert these are IN the window
"""
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from iceberg_geospatial_api_server_spark import entry_queries  # noqa: E402

q, o = E.queries(), E.oracle_sql()
w = list(q)[:50]
oracled = [n for n in w if n in o]
print(f"registry: {len(q)} entries / {len(o)} oracled")
print(f"window: {len(oracled)}/50 oracle-bearing")
bad = [n for n in w if n not in o]
for i, n in enumerate(w):
    print(f"{i:2d} {n}")
rc = 0
if bad:
    print(f"VIOLATION: non-oracle entries in window: {bad}")
    rc = 1
missing = [n for n in sys.argv[1:] if n not in w]
if missing:
    print(f"VIOLATION: expected in window but absent: {missing}")
    rc = 1

# ---- vintage invariant (computed from the artifacts, never prose) ----
fresh: dict[str, int] = {}
for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
    try:
        with open(path) as f:
            data = json.load(f)
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
    except (OSError, ValueError):
        continue
    for name, row in data.items():
        if isinstance(row, dict) and row.get("hash_match"):
            fresh[name] = max(fresh.get(name, 0), rnd)

jump = set(entry_queries.JUMP_QUEUE)
never = [n for n in o if n not in fresh]
never_out = [n for n in never if n not in w]
if never_out:
    print(f"VIOLATION: never-hash-greened oracles outside window: {never_out}")
    rc = 1

regular = [n for n in oracled if n not in jump and n in fresh]
if regular:
    # v = the NEWEST vintage among regular window members: the window
    # clears vintages oldest-first, so NOTHING strictly older than v
    # may wait outside (the mm_features_stats omission class — an r4
    # oracle left out while r5 oracles grade)
    v = max(fresh[n] for n in regular)
    older_out = [
        n for n in o if n in fresh and fresh[n] < v and n not in w
    ]
    if older_out:
        print(
            f"VIOLATION: oracles with vintage older than the window's "
            f"newest regular member (r{v}) left outside: {older_out}"
        )
        rc = 1
    # boundary class: window picks must be the alphabetical prefix
    # (the recorded block convention)
    boundary_all = sorted(
        n for n in o if fresh.get(n) == v and n not in jump
    )
    boundary_in = [n for n in boundary_all if n in w]
    want = boundary_all[: len(boundary_in)]
    if boundary_in != want:
        print(
            f"VIOLATION: boundary vintage r{v} not taken as the "
            f"alphabetical prefix — in-window {boundary_in} vs "
            f"expected {want}"
        )
        rc = 1
    hist: dict[int, int] = {}
    for n in o:
        if n in fresh:
            hist[fresh[n]] = hist.get(fresh[n], 0) + 1
    print(
        f"vintage: newest regular window member r{v} (everything "
        f"older is in-window); oracle freshest-green histogram "
        f"{dict(sorted(hist.items()))}; {len(never)} never-greened (new)"
    )
sys.exit(rc)
