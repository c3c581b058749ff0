"""DuckDB oracle comparison, reusing the repository's gate logic
(``tools/check_oracles.py``): row count, schema, and an
order-insensitive value compare."""

from __future__ import annotations

import pandas as pd

from tools import check_oracles

duck_con = check_oracles.duck_con


def problems(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The mismatches check_oracles treats as failures (dtype-kind
    notes that only an exact-hash gate would reject are ignored)."""
    return [p for p in check_oracles.compare(name, got, want) if "WOULD FAIL" not in p]
