"""User functions for compat-CLI tests — the same shapes the
reference's tests use (get_age / sum_age with a default accumulator,
/root/reference/tests/test_partition.py:11-19), written fresh."""

from __future__ import annotations


def get_age(row: list) -> int:
    return int(row[3])


def sum_age(row: list, accum: int = 0) -> int:
    return accum + int(row[3])


def age_key(row: list) -> int:
    return int(row[3])


def sum_int(value: int, accum: int = 0) -> int:
    return accum + int(value)


def is_adult(row: list) -> bool:
    return int(row[3]) >= 18


def dup_twice(rec) -> list:
    return [rec, rec]


def by_k(rec: dict) -> int:
    return rec["k"]


def count_by_k(rec: dict, accum: dict | None = None) -> dict:
    if accum is None:
        return {"k": rec.get("k"), "n": rec.get("n", 1)}
    return {"k": accum["k"], "n": accum["n"] + rec.get("n", 1)}


def age_mod5(row: list) -> int:
    return int(row[3]) % 5


def max_name(row: list, accum: list | None = None) -> list:
    """reduce_by_key fn whose accumulator is row-shaped, so it is both
    sequential-fold-correct (the reference's calling convention) and
    merge-compatible (our distributed tier may combine two partial
    accumulators with fn(a, b))."""
    if accum is None:
        return row
    return row if row[0] > accum[0] else accum

def by_x(rec: dict) -> int:
    return rec["x"]


# -- fuzz-differential fns (tests/test_differential_reference.py):
# 2-column rows [text, int-as-str] generated by hypothesis


def fuzz_field0(row: list) -> str:
    return row[0]


def fuzz_is_nonneg(row: list) -> bool:
    return int(row[1]) >= 0


def fuzz_key0(row: list) -> str:
    return row[0]


def fuzz_keymod(row: list) -> int:
    return int(row[1]) % 3


def fuzz_maxrow(row: list, accum: list | None = None) -> list:
    """Order-insensitive reduce: max by the full row tuple, so ties
    mean identical rows and sequential fold ≡ distributed merge."""
    if accum is None:
        return row
    return row if (row[0], row[1]) > (accum[0], accum[1]) else accum


def fuzz_swap(row: list) -> list:
    return [row[1], row[0]]


def add_age_to_set(row: list, accum: set) -> set:
    """reduce fn for the --init_val "set()" differential test: the
    reference's parse_argval turns that literal into an empty set
    (main.py:28-29), the idiomatic distinct-accumulator seed."""
    accum.add(int(row[3]))
    return accum


def set_dumps(s: set) -> bytes:
    """Deterministic serializer for set accumulators (iteration order
    of a set is not stable, so sort before joining). Returns bytes —
    the reference's writer contract (funcs.py str_dumps encodes)."""
    return ",".join(str(x) for x in sorted(s)).encode()


def keep_accum(row: list, accum):
    """reduce fn that ignores records: the fold's result IS the parsed
    --init_val, so serializing it surfaces the argument parser's
    output for differential comparison."""
    return accum
