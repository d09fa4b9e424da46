"""S6 replication-source helpers: diff URL sharding, state.txt parsing, and
the catch-up plan — the pure-offline half of the reference's HTTP diff source
(``/root/reference/osmquadtree-update.go:46-160``). The network fetch itself
(``fetchDiff``) is not implemented; the helpers below are real and
unit-tested.

  * ``make_diff_url``  — ``makeDiffUrl`` (:141-147): state 4270123 →
    ``<prefix>/004/270/123``.
  * ``make_state_fn``  — ``makeStateFn`` (:149-155): local filename, zero-
    padded to 3 digits only below 1000.
  * ``parse_state_txt``— ``getStateFile`` (:70-113): `key=value` lines,
    needs sequenceNumber + timestamp (``2006-01-02T15\\:04\\:05Z`` with the
    escaped colons OSM state files use).
  * ``plan_catch_up``  — the fetch list from last-applied+1 to head.
"""

from __future__ import annotations

from datetime import datetime, timezone


def make_diff_url(prefix: str, state: int) -> str:
    """Replication sharding: one directory level per 3 decimal digits."""
    a, b, c = state // 1_000_000, (state // 1000) % 1000, state % 1000
    return f"{prefix}/{a:03d}/{b:03d}/{c:03d}"


def make_state_fn(prefix: str, state: int) -> str:
    """Local .osc.gz filename (reference pads below 1000 only)."""
    if state < 1000:
        return f"{prefix}{state:03d}.osc.gz"
    return f"{prefix}{state}.osc.gz"


def parse_state_txt(text: str) -> tuple[int, int]:
    """state.txt body → (sequence_number, unix_timestamp).

    Mirrors getStateFile: scan `key=value` lines, accept the OSM escaped
    timestamp form ``2026-08-16T00\\:00\\:00Z``; raise if either field is
    missing/zero (the reference returns an error then).
    """
    sn, ts = 0, 0
    for line in text.splitlines():
        parts = line.split("=")
        if len(parts) != 2:
            continue
        key, val = parts[0].strip(), parts[1].strip()
        if key == "sequenceNumber":
            sn = int(val)
        elif key == "timestamp":
            dt = datetime.strptime(
                val.replace("\\:", ":"), "%Y-%m-%dT%H:%M:%SZ"
            ).replace(tzinfo=timezone.utc)
            ts = int(dt.timestamp())
    if sn == 0 or ts == 0:
        raise ValueError(f"couldn't find data: {text!r}")
    return sn, ts


def plan_catch_up(prefix: str, last_applied: int, head: int) -> list[tuple[int, str]]:
    """(state, url) fetch plan from last_applied+1 .. head inclusive — the
    loop shape of the reference's catch-up (:315-370)."""
    return [(s, make_diff_url(prefix, s)) for s in range(last_applied + 1, head + 1)]

