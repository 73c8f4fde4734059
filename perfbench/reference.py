"""Pure-Python reference for the ingest workload's output, and the
order-insensitive digest both sides are compared by.

The reference follows the record transform as FIXTURES.md §1-2 state it:
drop a record whose first or last name is null or blank under Java
``String.trim()`` (every char <= U+0020 is blank), mask the email, derive
``full_name`` and ``is_adult`` (null age is not adult). Frames with a wrong
magic byte never reach the transform.
"""

from __future__ import annotations

import hashlib

REDACTED_EMAIL = "redacted@email.com"
SINK_COLUMNS = ("user_id", "first_name", "last_name", "email", "age",
                "full_name", "is_adult")


def name_present(s: str | None) -> bool:
    return s is not None and any(ch > "\x20" for ch in s)


def transform(users: list[tuple]) -> list[tuple]:
    """(user_id, first_name, last_name, age) rows -> sink rows in
    ``SINK_COLUMNS`` order."""
    out = []
    for uid, first, last, age in users:
        if not (name_present(first) and name_present(last)):
            continue
        out.append((uid, first, last, REDACTED_EMAIL, age, f"{first} {last}",
                    age is not None and age >= 18))
    return out


def digest(rows) -> str:
    """Order-insensitive SHA-256 over rows (tuples of plain values)."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
