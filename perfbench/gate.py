"""Correctness gate: every operation's result is reduced to a digest of
its sorted, normalised rows and compared with a DuckDB reference.

The normalisation is the repository's own differential-test canon
(``tests/oracle_utils.normalize``): columns sorted by name, floats
rounded to 9 places, rows sorted, so the digest ignores row order and
column order but nothing else.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.oracle_utils import normalize


def rows_hash(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result frame."""
    canon = (sorted(df.columns), len(df), normalize(df))
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def arrow_hash(table) -> str:
    return rows_hash(table.to_pandas())


class Gate:
    """Collects (operation record, result digest, reference key)
    during a run and settles them after the timed phase, so no DuckDB
    work runs while operations are timed."""

    def __init__(self) -> None:
        self.pending: list[tuple[dict, str, object]] = []

    def expect(self, rec: dict, digest: str, ref_key) -> None:
        self.pending.append((rec, digest, ref_key))

    def settle(self, reference) -> None:
        """``reference(ref_key)`` gives the expected digest; every
        record whose digest differs is marked failed."""
        memo: dict = {}
        for rec, digest, key in self.pending:
            if key not in memo:
                memo[key] = reference(key)
            if digest != memo[key]:
                rec["ok"] = False
                rec.setdefault("error", f"result differs from reference {key!r}"[:300])
        self.pending.clear()
