"""``since`` parameter parsing — operator Q1.

Reference semantics (service.go:226-242): try RFC3339 first, then a
Go-style duration subtracted from *now*, else reject. NOTE: the CLI
`start` path of the reference inverts its duration error check
(kinesis2sse.go:123, SURVEY.md §2.2 known defect) — we implement the
*intended* semantics everywhere, matching the correct HTTP path.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

# Go's time.RFC3339 parse is STRICT: full date, 'T', full time, and an
# explicit offset ('Z' or ±hh:mm). Python's fromisoformat is far looser
# (date-only, space separator, tz-naive all pass), so the shape gate
# runs first. The envelope validator (F2) gates on the same pattern.
RFC3339_PATTERN = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
RFC3339_RE = re.compile(RFC3339_PATTERN)

# Go duration number: integer, integer-dot, dot-fraction, or both parts
# ("1", "1.", ".5", "1.5" — time.ParseDuration accepts all four).
_GO_DURATION_RE = re.compile(r"(\d+(?:\.\d*)?|\.\d+)(ns|us|µs|μs|ms|s|m|h)")

_UNIT_SECONDS = {
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,  # U+00B5 micro sign
    "μs": 1e-6,  # U+03BC greek mu — Go accepts both spellings
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}


def parse_rfc3339(s: str) -> datetime | None:
    """Parse a STRICT RFC3339 timestamp (Go ``time.Parse(time.RFC3339)``
    shape); None when the shape doesn't match (caller falls through to
    the duration branch). A shape-valid string with impossible field
    values (month 13) raises ValueError — the reject path either way."""
    if not RFC3339_RE.match(s):
        return None
    return datetime.fromisoformat(s.replace("Z", "+00:00"))


def parse_go_duration(s: str) -> timedelta:
    """Parse a Go ``time.ParseDuration`` string like ``"1h30m"``,
    ``"300ms"``, ``"1.5h"``, ``".5s"``, or bare ``"0"``. Raises
    ValueError on anything else."""
    s = s.strip()
    neg = s.startswith("-")
    if neg or s.startswith("+"):
        s = s[1:]
    if not s:
        raise ValueError("empty duration")
    if s == "0":  # the one unit-less form Go accepts
        return timedelta(0)
    total = 0.0
    pos = 0
    for m in _GO_DURATION_RE.finditer(s):
        if m.start() != pos:
            raise ValueError(f"invalid duration {s!r}")
        total += float(m.group(1)) * _UNIT_SECONDS[m.group(2)]
        pos = m.end()
    if pos != len(s):
        raise ValueError(f"invalid duration {s!r}")
    return timedelta(seconds=-total if neg else total)


def parse_since(s: str, now: datetime | None = None) -> datetime:
    """Resolve ``?since=`` exactly like service.go:230-240: RFC3339 first,
    then ``now - duration``; else ValueError (the HTTP 400 path)."""
    ts = parse_rfc3339(s)
    if ts is not None:
        return ts
    d = parse_go_duration(s)  # raises ValueError on junk → HTTP 400
    now = now or datetime.now(timezone.utc)
    return now - d
