"""Compute the driver-correctness rotation order from attestation data.

The external correctness gate verifies the FIRST 50 registry entries each
round.  Through round 4 the window order lived in hand-maintained comments,
which drifted once (round-3 ADVICE caught a miscount).  This script makes
the ordering data-derived: it reads every ``CORRECTNESS_r*.json`` the
driver has produced and sorts the declared queries oldest-attestation-first:

  1. queries with NO green driver row yet (never attested, or latest row
     red) — these always outrank re-attestation, the round-3/4 precedent;
  2. then ascending "latest round with a green row";
  3. ties broken by current registry declaration order, so the sort is
     stable round over round and newly added queries (never attested) slot
     in after the existing never-attested block.

A green row = rows_match AND schema_match AND hash_match is not False
(rows-only checks report hash_match null/absent; they still count as a
driver attestation per the judge's convention).

``tests/test_rotation.py`` asserts the registry's declared order IS this
order, so the comments describe the rotation and the data defines it.

Usage: ``python scripts/rotation.py`` prints the expected order with each
query's attestation age, flagging any registry position that disagrees.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WINDOW = 50  # driver correctness window: first N registry entries


def _tracked_artifacts(repo: str) -> list[str]:
    """CORRECTNESS artifacts the rotation order is derived from.

    Only *git-tracked* artifacts count.  The driver drops the new round's
    CORRECTNESS_rN.json into the working tree *after* this registry's order
    froze at commit time, so deriving the order from a plain glob made the
    committed tree read red at judge time two rounds running (round-6 and
    round-7 verdicts) — the untracked artifact shifted the data-derived
    order out from under the already-frozen registry.  Pinning to tracked
    files keeps an untracked artifact from moving the order, but it does
    NOT make the committed tree self-consistent by construction: any
    commit that tracks a new CORRECTNESS_rN.json changes the expected
    order at once (round 13's commit did), and tests/test_rotation.py
    reads red until the registry re-sort lands.  Every commit that adds an
    attestation artifact must therefore carry, or be directly followed by,
    the re-sort.  Falls back to the glob when git is unavailable (e.g. an
    exported tarball).
    """
    try:
        out = subprocess.run(
            ["git", "-C", repo, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        paths = [
            p
            for line in out.splitlines()
            if line
            # tracked-but-deleted: git ls-files still lists an entry a
            # developer removed from the worktree (e.g. to regenerate
            # it) — reading it would crash; a missing file contributes
            # no attestations either way
            if os.path.exists(p := os.path.join(repo, line))
        ]
        # git succeeded: its answer is authoritative even when empty
        # (first round, or every tracked artifact deleted from the
        # worktree) — falling through to the glob here would silently
        # reintroduce the untracked-artifact order drift this function
        # exists to prevent (round-8 ADVICE)
        return sorted(paths)
    except (OSError, subprocess.CalledProcessError):
        pass
    return sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))


def latest_green_round(repo: str = REPO) -> dict[str, int]:
    """query -> latest round number whose driver row was green."""
    latest: dict[str, int] = {}
    for path in _tracked_artifacts(repo):
        rnd = int(re.search(r"r0*(\d+)\.json$", path).group(1))
        with open(path) as f:
            data = json.load(f)
        for query, row in data.items():
            green = (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is not False
            )
            if green:
                latest[query] = max(rnd, latest.get(query, 0))
    return latest


def expected_order(registry_names: list[str], repo: str = REPO) -> list[str]:
    """Oldest-attestation-first stable sort of the declared queries."""
    latest = latest_green_round(repo)
    return sorted(registry_names, key=lambda q: latest.get(q, 0))
    # sorted() is stable: ties (same attestation round, including the
    # never-attested round-0 tier) keep registry declaration order.


def main() -> None:
    import sys

    sys.path.insert(0, REPO)
    from iceberg_examples_spark.registry import QUERIES

    names = list(QUERIES)
    order = expected_order(names)
    latest = latest_green_round()
    mismatches = 0
    for i, q in enumerate(order):
        tag = f"r{latest[q]}" if q in latest else "never"
        window = "WINDOW" if i < WINDOW else "      "
        actual = names[i]
        flag = "" if actual == q else f"  <-- registry has {actual!r} here"
        if flag:
            mismatches += 1
        print(f"{i + 1:3d} {window} {tag:>5s}  {q}{flag}")
    if mismatches:
        print(f"\n{mismatches} positions disagree with the registry order.")
        raise SystemExit(1)
    print(f"\nregistry order matches ({len(names)} queries, window={WINDOW}).")


if __name__ == "__main__":
    main()
