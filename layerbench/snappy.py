"""Pure-Python greedy hash-match snappy block compressor with holes.

Real Prometheus remote-write bodies are snappy streams full of
back-references (label sets repeat from series to series). The package's
own encoder emits literal-only streams, which never exercise the copy path
of ``prompb.snappy_decompress``; this compressor produces copy-bearing
streams.

Holes are byte ranges of the input (sample values and timestamps) that are
always emitted as literals and never used as a copy source. Bytes inside a
hole can therefore be rewritten in the compressed stream directly
(:meth:`Compressed.patch`), so one compressed template serves many bodies
that differ only in their samples — compressing costs tens of microseconds
per sample in Python, patching a few hundred nanoseconds.
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass

_MIN_MATCH = 4
_MAX_OFFSET = 65535  # 2-byte-offset copies only
_MAX_LITERAL_CHUNK = 65536


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


@dataclass
class Compressed:
    """A compressed template: ``data`` plus where each literal chunk of the
    input landed in it."""

    data: bytes
    # (raw_start, raw_end, compressed_start) for every literal chunk
    chunks: list[tuple[int, int, int]]

    def patch(self, raw_edits: list[tuple[int, bytes]]) -> bytes:
        """Return ``data`` with the raw bytes at each ``(raw_pos, new)``
        replaced. Every edited range must lie inside a hole (that is not
        checked here; the generator round-trips its output instead)."""
        out = bytearray(self.data)
        chunks = self.chunks
        ci = 0
        for raw_pos, new in raw_edits:  # edits arrive in ascending order
            end = raw_pos + len(new)
            while chunks[ci][1] <= raw_pos:
                ci += 1
            j = ci
            pos = raw_pos
            while pos < end:
                rs, re_, cs = chunks[j]
                if pos >= re_:
                    j += 1
                    continue
                take = min(end, re_) - pos
                dst = cs + (pos - rs)
                out[dst : dst + take] = new[pos - raw_pos : pos - raw_pos + take]
                pos += take
        return bytes(out)


def compress(data: bytes, holes: list[tuple[int, int]] = ()) -> Compressed:
    """Greedy snappy block compression of ``data``; bytes in ``holes``
    (sorted, non-overlapping ``(start, end)``) are emitted as literals."""
    n = len(data)
    mask = bytearray(n)  # 1 inside a hole
    for s, e in holes:
        mask[s:e] = b"\x01" * (e - s)
    hole_starts = [s for s, _ in holes] + [n]
    out = bytearray(_uvarint(n))
    chunks: list[tuple[int, int, int]] = []
    table: dict[bytes, int] = {}

    def emit_literal(s: int, e: int) -> None:
        while s < e:
            piece = min(e - s, _MAX_LITERAL_CHUNK)
            ln = piece - 1
            if ln < 60:
                out.append(ln << 2)
            elif ln < 256:
                out.append(60 << 2)
                out.append(ln)
            elif ln < 65536:
                out.append(61 << 2)
                out.extend(ln.to_bytes(2, "little"))
            else:
                out.append(62 << 2)
                out.extend(ln.to_bytes(3, "little"))
            chunks.append((s, s + piece, len(out)))
            out.extend(data[s : s + piece])
            s += piece

    def emit_copy(offset: int, length: int) -> None:
        while length > 0:
            if length > 64:
                # keep ≥ 4 bytes for the final op (copy length minimum)
                take = 64 if length - 64 >= 4 else length - 4
            else:
                take = length
            if 4 <= take <= 11 and offset < 2048:
                out.append(((offset >> 8) << 5) | ((take - 4) << 2) | 1)
                out.append(offset & 0xFF)
            else:
                out.append(((take - 1) << 2) | 2)
                out.extend(offset.to_bytes(2, "little"))
            length -= take

    def free_run(p: int, hi: int) -> int:
        """Length of the hole-free run starting at p (bounded by hi)."""
        return min(hole_starts[bisect_left(hole_starts, p)], hi) - p

    lit = 0
    i = 0
    last = n - _MIN_MATCH
    while i <= last:
        if mask[i]:
            i += 1
            while i < n and mask[i]:
                i += 1
            continue
        if mask[i + 1] or mask[i + 2] or mask[i + 3]:
            i += 1
            continue
        key = data[i : i + _MIN_MATCH]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > _MAX_OFFSET:
            i += 1
            continue
        # longest match: bounded by holes on both sides, found by halving
        limit = min(free_run(i, n), free_run(cand, i))
        if limit < _MIN_MATCH:
            i += 1
            continue
        lo, hi = _MIN_MATCH, limit
        if data[i : i + hi] != data[cand : cand + hi]:
            while lo < hi:
                mid = (lo + hi + 1) // 2
                if data[i : i + mid] == data[cand : cand + mid]:
                    lo = mid
                else:
                    hi = mid - 1
        length = hi
        if lit < i:
            emit_literal(lit, i)
        emit_copy(i - cand, length)
        i += length
        lit = i
    if lit < n:
        emit_literal(lit, n)
    return Compressed(bytes(out), chunks)
