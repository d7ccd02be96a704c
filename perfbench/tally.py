"""Failure accounting: every timed operation is attempted once and
fails at most once, whatever number of checks it trips."""

from __future__ import annotations


class Tally:
    def __init__(self):
        self._ops: dict[str, list[str]] = {}

    def attempt(self, op_id: str) -> None:
        if op_id in self._ops:
            raise ValueError(f"operation {op_id!r} attempted twice")
        self._ops[op_id] = []

    def fail(self, op_id: str, reason: str) -> None:
        """Record a failed check of an attempted operation; an unknown
        id is itself a failure of a new operation (e.g. an event for a
        txn nobody sent)."""
        self._ops.setdefault(op_id, []).append(reason)

    @property
    def attempted(self) -> int:
        return len(self._ops)

    @property
    def failed(self) -> int:
        return sum(1 for reasons in self._ops.values() if reasons)

    @property
    def fail_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def failures(self, limit: int = 20) -> dict[str, list[str]]:
        bad = {k: v for k, v in self._ops.items() if v}
        return dict(list(bad.items())[:limit])


def check_events(tally: Tally, expected: dict[str, str], events) -> None:
    """Exactly-once check of a status-event log: ``expected`` maps each
    accepted txn to its terminal status, ``events`` holds
    ``(txn_id, status, event_id)`` rows.  A missing, duplicated or
    wrong-status event, or a repeated ``event_id``, fails its txn."""
    seen: dict[str, int] = {}
    ids: set[str] = set()
    for txn, status, event_id in events:
        seen[txn] = seen.get(txn, 0) + 1
        if txn not in expected:
            tally.fail(f"event:{txn}", "event for an unknown txn")
            continue
        if status != expected[txn]:
            tally.fail(txn, f"event status {status} != {expected[txn]}")
        if event_id in ids:
            tally.fail(txn, f"repeated event_id {event_id}")
        ids.add(event_id)
    for txn in expected:
        n = seen.get(txn, 0)
        if n != 1:
            tally.fail(txn, f"{n} events, expected 1")
