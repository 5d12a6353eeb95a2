"""Output checkers, and the corruptions each must catch.

- :func:`check_records` — the relay's deliveries against the samples of
  every acked body: each exactly once, in the ``record.go`` NDJSON shape,
  floats equal bit for bit, labels as a dict, stale markers as ``null``.
  It compares parsed JSON, never bytes: Python ``json.dumps`` (the spool)
  and Spark ``to_json`` (the sink) render the same double differently.
- :func:`check_rows` — a query answer against its DuckDB oracle with
  ``tools/verify_local.py``'s normalization (order-insensitive, bit-exact
  floats).

:func:`selftest_records` and :func:`selftest_rows` inject a dropped row, a
duplicated row and a value moved by one ulp into a real output, and report
any corruption the checker let through.
"""

from __future__ import annotations

import math

RECORD_KEYS = ["name", "time", "value", "labels"]


def _ulp_up(v):
    if isinstance(v, float) and math.isfinite(v):
        return math.nextafter(v, math.inf)
    if isinstance(v, int) and not isinstance(v, bool):
        return v + 1
    return None


def check_records(expected: dict, delivered: list, series_of: dict) -> list[str]:
    """``expected``: ``{(series id, time ms): value or None}`` for every
    acked sample; ``delivered``: ``[(partition key, parsed record)]``;
    ``series_of``: ``{frozenset(labels.items()): series id}``."""
    problems: list[str] = []
    seen: set = set()
    counts = {"shape": 0, "unexpected": 0, "duplicate": 0, "value": 0}

    def bad(kind: str, msg: str) -> None:
        counts[kind] += 1
        if counts[kind] <= 3:
            problems.append(msg)

    for key, rec in delivered:
        if list(rec) != RECORD_KEYS or not isinstance(rec["labels"], dict):
            bad("shape", f"record shape {rec!r}")
            continue
        labels = rec["labels"]
        if rec["name"] != labels.get("__name__", "") or key != rec["name"]:
            bad("shape", f"name/key mismatch {key!r} {rec!r}")
            continue
        k = (series_of.get(frozenset(labels.items())), rec["time"])
        if k not in expected:
            bad("unexpected", f"unexpected record {rec!r}")
            continue
        if k in seen:
            bad("duplicate", f"duplicate record {rec!r}")
            continue
        seen.add(k)
        want, got = expected[k], rec["value"]
        if want is None or got is None:
            ok = want is None and got is None
        else:
            ok = isinstance(got, float) and got == want
        if not ok:
            bad("value", f"value {got!r} != {want!r} for {rec!r}")
    missing = len(expected) - len(seen)
    if missing:
        problems.append(f"{missing} acked samples never delivered")
    for kind, n in counts.items():
        if n:
            problems.append(f"{n} {kind} records")
    return problems


def selftest_records(expected: dict, delivered: list, series_of: dict) -> list[str]:
    """Corruptions of ``delivered`` that :func:`check_records` missed."""
    missed = []
    i = next((j for j, (_, r) in enumerate(delivered)
              if isinstance(r.get("value"), float)), None)
    if i is None:
        return ["no float sample to corrupt"]
    nudged = dict(delivered[i][1], value=_ulp_up(delivered[i][1]["value"]))
    cases = {
        "dropped": delivered[:i] + delivered[i + 1:],
        "duplicated": delivered + [delivered[i]],
        "1-ulp": delivered[:i] + [(delivered[i][0], nudged)] + delivered[i + 1:],
    }
    for name, corrupt in cases.items():
        if not check_records(expected, corrupt, series_of):
            missed.append(f"record checker missed a {name} sample")
    return missed


def check_rows(cols: list[str], rows: list[tuple],
               o_cols: list[str], o_rows: list[tuple]) -> list[str]:
    """Compare a result with its oracle the way ``tools/verify_local.py``
    does: same column names, same row count, then cell by cell after
    sorting columns by name and rows by value, floats bit-exact."""
    from tools.verify_local import cells_equal, normalize

    if sorted(cols) != sorted(o_cols):
        return [f"columns differ: got={sorted(cols)} oracle={sorted(o_cols)}"]
    if len(rows) != len(o_rows):
        return [f"row count differs: got={len(rows)} oracle={len(o_rows)}"]
    a, names = normalize(rows, cols)
    b, _ = normalize(o_rows, o_cols)
    problems, n_bad = [], 0
    for i, (ra, rb) in enumerate(zip(a, b)):
        for c, (va, vb) in enumerate(zip(ra, rb)):
            if not cells_equal(va, vb):
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"row {i} col {names[c]}: got={va!r} oracle={vb!r}")
    if n_bad:
        problems.append(f"{n_bad} mismatched cells / {len(a)} rows")
    return problems


def selftest_rows(cols: list[str], rows: list[tuple],
                  o_cols: list[str], o_rows: list[tuple]) -> list[str]:
    """Corruptions of ``rows`` that :func:`check_rows` missed."""
    if not rows:
        return ["no row to corrupt"]
    spot = next(((r, c) for r, row in enumerate(rows) for c, v in enumerate(row)
                 if isinstance(v, float) and math.isfinite(v)), None)
    if spot is None:
        spot = next(((r, c) for r, row in enumerate(rows) for c, v in enumerate(row)
                     if _ulp_up(v) is not None), None)
    if spot is None:
        return ["no numeric cell to corrupt"]
    r, c = spot
    row = list(rows[r])
    row[c] = _ulp_up(row[c])
    cases = {
        "dropped": rows[1:],
        "duplicated": rows + [rows[0]],
        "1-ulp": rows[:r] + [tuple(row)] + rows[r + 1:],
    }
    missed = []
    for name, corrupt in cases.items():
        if not check_rows(cols, corrupt, o_cols, o_rows):
            missed.append(f"row checker missed a {name} row")
    return missed
