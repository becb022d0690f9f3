"""Ratchet lint: engine ROUND is banned from emitted values.

Spark's F.round rounds HALF_UP on the shortest decimal repr while DuckDB's
ROUND rounds the binary value — they disagree on .xxx5 repr-ties, which are
common on int/int ratios and quantized data (the r4/r5 driver-flake class;
see functions/stable.py and the r6 sweep that converted ~119 sites to
grid_snap/stable_round). This test freezes the surviving site count per
file so new engine-ROUND emissions cannot creep in unnoticed.

The r6 sweep eliminated every code site; any NEW site must use the stable
helpers, or prove tie-freedom and add itself to the RATCHET allowlist with
a comment.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "raise_featurestore_spark"

# file (relative to the package) -> max allowed engine-ROUND code sites
# (empty: the r6 sweep eliminated every site; keep the dict for the
# documented escape hatch)
RATCHET: dict[str, int] = {}

_PATTERN = re.compile(r"F\.round\(|(?<![_A-Za-z])ROUND\(")
_SAFE = re.compile(r"grid_snap|stable_round|sig_round")


def _code_sites(path: Path) -> list[str]:
    hits = []
    for i, line in enumerate(path.read_text().splitlines(), 1):
        stripped = line.strip()
        if stripped.startswith("#") or "``" in line:
            # comments and reST-style docstring mentions
            continue
        # drop trailing comments crudely; string literals containing ROUND
        # are exactly the SQL-twin emission sites we want to count
        code = line.split("  # ")[0]
        if _PATTERN.search(code) and not _SAFE.search(code):
            hits.append(f"{path.name}:{i}: {stripped[:100]}")
    return hits


def test_no_new_engine_round_sites():
    failures = []
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        hits = _code_sites(py)
        allowed = RATCHET.get(rel, 0)
        if len(hits) > allowed:
            failures.append(
                f"{rel}: {len(hits)} engine-ROUND sites (allowed {allowed}):\n  "
                + "\n  ".join(hits)
            )
    assert not failures, (
        "engine ROUND on emitted values is banned (emission rules; use "
        "functions/stable.grid_snap / stable_round in BOTH twins):\n"
        + "\n".join(failures)
    )


def test_bench_artifact_committed():
    """r10 VERDICT item 4 (bookkeeping): the committed BENCH_local.json
    must be the artifact the round ledger quotes — a modified-uncommitted
    copy in the working tree means the quoted numbers aren't the recorded
    ones. Run bench, then commit the refreshed artifact with the change
    that motivated the run."""
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    if not (repo / ".git").exists() or not (repo / "BENCH_local.json").exists():
        return
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--", "BENCH_local.json"],
            cwd=repo, capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return
    assert out.stdout.strip() == "", (
        "BENCH_local.json is modified but uncommitted — commit the bench "
        "artifact the ledger quotes (r10 VERDICT 'what's wrong' #3)"
    )

