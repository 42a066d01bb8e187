"""Correctness gate: each query's registered DuckDB oracle, run on the
same input files outside the timed region, against every timed result.

The comparison is the repository's own tolerant one
(``tests.oracle_utils.compare_frames``): same row count and column
names, rows compared sorted, floats to 4 decimals with a 1e-4
tolerance.  A query registered without an oracle is checked for rows
only: it must return without raising.
"""

from __future__ import annotations

import pandas as pd

from tests.oracle_utils import compare_frames, duck_connection


def oracle_answers(data_dir: str, specs: dict) -> dict[str, pd.DataFrame | None]:
    """name → the oracle's answer for each spec, or None for a spec
    without an oracle."""
    con = duck_connection(data_dir)
    try:
        return {name: None if spec.oracle is None else con.execute(spec.oracle).df()
                for name, spec in specs.items()}
    finally:
        con.close()


def mismatch(name: str, expected: pd.DataFrame | None, columns: list[str],
             rows: list) -> str | None:
    """None when ``rows`` (as collected) match the oracle answer, else a
    one-line reason."""
    if expected is None:
        return None
    try:
        compare_frames(pd.DataFrame.from_records(rows, columns=columns), expected, name)
    except AssertionError as ex:
        return str(ex).splitlines()[0][:300]
    return None
