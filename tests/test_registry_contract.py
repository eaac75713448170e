"""The driver certifies the FIRST 50 entries of the QUERIES dict per round
(mechanism proven in VERDICT r4). Rotation contract: every query that has
never received a driver CORRECTNESS row must sit inside that window, so
the union of rounds covers the full set. This test reads the committed
driver artifacts and fails if an uncertified query drifts past position 50
— the exact mistake that silently uncertified 21 queries through r4."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver artifacts are named CORRECTNESS_r{N}.json with a zero-padded or
# bare round number. The r10 bug (VERDICT r10 "What's wrong" #1): the old
# glob `CORRECTNESS_r0*.json` could never match two-digit rounds, so the
# recert-drain rule went silently dead the moment rounds hit 10. Parse the
# round with a regex, never by string slicing.
_ARTIFACT_RE = re.compile(r"^CORRECTNESS_r(\d+)\.json$")


def driver_artifacts(repo: str = REPO) -> list[tuple[int, str]]:
    """All driver correctness artifacts as (round, path), any round number."""
    out = []
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = _ARTIFACT_RE.match(os.path.basename(path))
        if m:
            out.append((int(m.group(1)), path))
    return sorted(out)


def _green_names(path: str) -> set[str]:
    with open(path) as f:
        rows = json.load(f)
    return {
        name
        for name, r in rows.items()
        if isinstance(r, dict) and r.get("hash_match") and not r.get("err")
    }


def _last_commit_ts(path: str) -> int:
    """Unix time of the last commit touching `path` (0 if untracked/unknown)."""
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "log", "-1", "--format=%ct", "--", path],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        return int(out) if out else 0
    except Exception:
        return 0


def test_driver_artifact_round_parse_sees_two_digit_rounds(tmp_path):
    """Self-test for the r10 regression class: a synthetic r12 artifact (and
    an r9 one, and a LOCAL file that must NOT count) must be enumerated with
    the right round numbers. The old `CORRECTNESS_r0*.json` glob failed
    exactly this."""
    (tmp_path / "CORRECTNESS_r09.json").write_text("{}")
    (tmp_path / "CORRECTNESS_r12.json").write_text("{}")
    (tmp_path / "CORRECTNESS_r113.json").write_text("{}")
    (tmp_path / "CORRECTNESS_LOCAL_r12_sf1.json").write_text("{}")
    rounds = [r for r, _ in driver_artifacts(str(tmp_path))]
    assert rounds == [9, 12, 113], rounds


def test_uncertified_queries_inside_driver_window():
    from numaflow_spark.queries import QUERIES

    certified: set[str] = set()
    for _, path in driver_artifacts():
        certified |= _green_names(path)
    names = list(QUERIES)
    late_uncertified = [n for n in names[50:] if n not in certified]
    assert not late_uncertified, (
        f"queries outside the driver's 50-entry certification window that "
        f"have no driver row yet: {late_uncertified} — move them before "
        f"position 50 (displace an already-certified query to the tail)"
    )


def test_recert_pending_queries_inside_driver_window():
    """Rewrite-certification rule (VERDICT r7 #4): a registered query whose
    plan changed after its last driver cert must re-enter the window head.
    RECERT_PENDING is the declaration; this test enforces (a) every pending
    name sits inside the first-50 window and (b) no name lingers after a
    fresh driver artifact already carries its green row — the list is a
    queue, not a graveyard."""
    from numaflow_spark.queries import (
        QUERIES,
        RECERT_PENDING,
        RECERT_SINCE_ROUND,
    )

    head = set(list(QUERIES)[:50])
    outside = [n for n in RECERT_PENDING if n not in head]
    assert not outside, (
        f"rewritten-after-cert queries outside the certification window: "
        f"{outside}"
    )
    # Names whose fresh row already landed (an artifact from the queue's
    # declared watermark round on — a row from an EARLIER round certifies
    # the pre-rewrite plan and must not drain the queue) must be removed so
    # the queue reflects reality.
    #
    # The per-round driver commits its CORRECTNESS artifact AFTER the
    # builder's last commit, so at judging time a just-landed artifact can
    # legitimately satisfy queue entries the builder never had a chance to
    # drain (VERDICT r9 "What's wrong" #1: this test was structurally red
    # at every judge run, two rounds running). Rule: an entry is only
    # *rottenly* stale if the registry (queries.py) was edited AFTER the
    # artifact that certifies it landed — i.e. the builder worked a session
    # with the fresh row available and ignored the queue. Entries whose
    # certifying artifact postdates the last queries.py commit are
    # "drainable next session" and pass with that expectation recorded.
    fresh_artifacts = [
        path for rnd, path in driver_artifacts() if rnd >= RECERT_SINCE_ROUND
    ]
    registry_ts = _last_commit_ts(os.path.join("numaflow_spark", "queries.py"))
    stale = []
    for n in RECERT_PENDING:
        newest_cert_ts = 0
        for p in fresh_artifacts:
            if n in _green_names(p):
                newest_cert_ts = max(
                    newest_cert_ts,
                    _last_commit_ts(os.path.relpath(p, REPO))
                    or int(os.path.getmtime(p)),
                )
        if newest_cert_ts and newest_cert_ts <= registry_ts:
            stale.append(n)
    assert not stale, (
        f"RECERT_PENDING entries whose fresh driver row predates the last "
        f"registry edit — the builder had a session to drain them and "
        f"didn't: {stale}"
    )


def test_every_query_has_an_oracle():
    from numaflow_spark.oracles import ORACLES
    from numaflow_spark.queries import QUERIES

    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"queries with no DuckDB oracle (rows-only check): {missing}"


def test_every_query_resolves_to_its_q_function():
    """One declaration per query: QUERIES[k] is the module's q_{k}
    (through the NO_AQE regime wrapper), so a key can never silently point
    at another query's function."""
    from numaflow_spark import queries

    wrong = [
        k for k, fn in queries.QUERIES.items()
        if getattr(fn, "__wrapped__", fn) is not getattr(queries, f"q_{k}", None)
    ]
    assert not wrong, f"registry keys not bound to their q_ function: {wrong}"


def test_no_aqe_wrapping_matches_declared_set():
    """The regime wrapper covers exactly NO_AQE_QUERIES: no member left
    unwrapped, no other query wrapped."""
    from numaflow_spark.queries import NO_AQE_QUERIES, QUERIES

    wrapped = {k for k, fn in QUERIES.items() if hasattr(fn, "__wrapped__")}
    assert wrapped == NO_AQE_QUERIES
