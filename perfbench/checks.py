"""Correctness checks. Each takes plain Python values (rows already
collected from Spark or DuckDB) and returns a list of problems; an empty
list passes. Keeping them Spark-free lets the tests feed them corrupted
outputs directly."""

from __future__ import annotations

from collections import Counter

#: how many differing rows a problem message quotes
_SHOW = 3


def multiset_diff(expected, actual, label: str) -> list[str]:
    """Rows as multisets: every expected row exactly as often as expected,
    nothing else."""
    e, a = Counter(expected), Counter(actual)
    missing, extra = e - a, a - e
    out = []
    if missing:
        out.append(
            f"{label}: {sum(missing.values())} rows missing, "
            f"e.g. {list(missing)[:_SHOW]}"
        )
    if extra:
        out.append(
            f"{label}: {sum(extra.values())} unexpected rows, "
            f"e.g. {list(extra)[:_SHOW]}"
        )
    return out


def check_landed(
    pairs: set[tuple[int, int]],
    null_lsn_ids: set[int],
    landed: list[tuple[int, int | None]],
) -> list[str]:
    """Exactly-once landing: the landed non-null (id, lsn) rows are the
    log's distinct non-null (id, lsn) pairs, each once; the NULL-lsn noise
    lands once per id (the (id, lsn) dedup treats NULL lsn as one value)."""
    got = [r for r in landed if r[1] is not None]
    nulls = [r[0] for r in landed if r[1] is None]
    return multiset_diff(pairs, got, "landed (id, lsn)") + multiset_diff(
        null_lsn_ids, nulls, "landed NULL-lsn ids"
    )


def check_lookup(expected: dict[int, tuple], rows: list[tuple]) -> list[str]:
    """A keyed read: ``rows`` are (id, *image) tuples, ``expected`` maps each
    live id of the read range to its image."""
    return multiset_diff(
        [(k, *v) for k, v in expected.items()], rows, "lookup rows"
    )


def pair_recall(found: set[tuple[int, int]], planted) -> float:
    """Share of planted (original, duplicate) pairs present in ``found``
    (pairs are compared unordered)."""
    planted = {tuple(sorted(p)) for p in planted}
    if not planted:
        return 1.0
    return len(planted & {tuple(sorted(p)) for p in found}) / len(planted)
