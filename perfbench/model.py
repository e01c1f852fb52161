"""In-memory model of a ``TimeSeriesStore``: every row written, exact
last-write-wins payloads, bucket retention. Store results are checked
against it after the timed phase."""

from __future__ import annotations


class StoreModel:
    def __init__(self, bucket: int, resolution: int, payload_size: int):
        self.bucket = bucket
        self.resolution = resolution
        self.zero = bytes(payload_size)
        # bucket base -> {(series, slot ts): payload}; later writes replace
        self.buckets: dict[int, dict[tuple[tuple[str, ...], int], bytes]] = {}

    def put(self, rows) -> None:
        """Rows ``(ts, tag1..tagN, payload)`` in batch order; a later row for
        the same (series, slot) wins, within a batch and across batches."""
        for ts, *tags, payload in rows:
            ts -= ts % self.resolution
            b = ts - ts % self.bucket
            self.buckets.setdefault(b, {})[(tuple(tags), ts)] = payload

    def remove_before(self, cutoff: int) -> int:
        gone = [b for b in self.buckets if b < cutoff]
        for b in gone:
            del self.buckets[b]
        return len(gone)

    def _slots(self, start: int, end: int) -> range:
        start -= start % self.resolution
        end -= end % self.resolution
        return range(start, end, self.resolution)

    def dense(self, start: int, end: int, tags: list[str]) -> tuple[list[tuple[int, bytes]], int]:
        """One series' dense rows over [start, end) and how many were gap-filled."""
        key = tuple(tags)
        out, filled = [], 0
        for ts in self._slots(start, end):
            p = self.buckets.get(ts - ts % self.bucket, {}).get((key, ts))
            if p is None:
                filled += 1
                p = self.zero
            out.append((ts, p))
        return out, filled

    def series(self, start: int, end: int, tags: list[str]) -> set[tuple[str, ...]]:
        """Series present in any bucket the find loop visits: buckets from
        floor(start) through floor(end) inclusive, even when end falls on a
        bucket boundary."""
        start -= start % self.resolution
        end -= end % self.resolution
        b0, b1 = start - start % self.bucket, end - end % self.bucket
        found = set()
        for b, rows in self.buckets.items():
            if b0 <= b <= b1:
                for key, _ in rows:
                    if all(t in ("", None) or t == k for t, k in zip(tags, key)):
                        found.add(key)
        return found

    def find_dense(self, start: int, end: int, tags: list[str]) -> tuple[list[tuple], int]:
        out, filled = [], 0
        for key in sorted(self.series(start, end, tags)):
            rows, f = self.dense(start, end, list(key))
            out += [(*key, ts, payload) for ts, payload in rows]
            filled += f
        return out, filled


def diff(expected: list[tuple], got: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the first mismatch."""
    if len(expected) != len(got):
        return f"{len(got)} rows, expected {len(expected)}"
    for i, (e, g) in enumerate(zip(expected, got)):
        if tuple(e) != tuple(g):
            return f"row {i}: got {tuple(g)!r}, expected {tuple(e)!r}"
    return None
