"""Output checks, each computed apart from the program.

A check returns ``None`` when the program's output is right and a short
message when it is not. The table model mirrors the engine's write
semantics in pandas; predicates are integer arithmetic on ``user_id`` and
updates are doublings of cent values, so pandas and Spark agree exactly.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import Counter
from decimal import Decimal

import pandas as pd

COLUMNS = ["event_id", "user_id", "event_type", "value", "event_date"]


# ------------------------------------------------------------- table model

def overwrite(model: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
    """Overwrite insert: every partition present in ``rows`` is replaced."""
    keep = model[~model["event_date"].isin(set(rows["event_date"]))]
    return pd.concat([keep, rows[COLUMNS]], ignore_index=True)


def append(model: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
    return pd.concat([model, rows[COLUMNS]], ignore_index=True)


def delete(model: pd.DataFrame, modulus: int, rest: int) -> pd.DataFrame:
    """``DELETE WHERE user_id % modulus = rest``."""
    return model[model["user_id"] % modulus != rest].reset_index(drop=True)


def double_value(model: pd.DataFrame, modulus: int, rest: int) -> pd.DataFrame:
    """``UPDATE SET value = value * 2 WHERE user_id % modulus = rest``."""
    out = model.copy()
    hit = out["user_id"] % modulus == rest
    out.loc[hit, "value"] = out.loc[hit, "value"] * 2
    return out


def merge(model: pd.DataFrame, source: pd.DataFrame) -> pd.DataFrame:
    """``MERGE ON event_id``: matched rows are replaced by the source row,
    unmatched source rows are inserted."""
    keep = model[~model["event_id"].isin(set(source["event_id"]))]
    return pd.concat([keep, source[COLUMNS]], ignore_index=True)


# ------------------------------------------------------------- comparisons

def _as_date(v):
    if isinstance(v, dt.datetime):
        return v.date()
    if isinstance(v, pd.Timestamp):
        return v.date()
    return v


def row_tuples(df: pd.DataFrame) -> list[tuple]:
    return [(int(a), int(b), str(c), float(d), _as_date(e))
            for a, b, c, d, e in df[COLUMNS].itertuples(index=False)]


def same_rows(got: pd.DataFrame, want: pd.DataFrame, what: str):
    """Row multisets equal, order ignored."""
    g, w = Counter(row_tuples(got)), Counter(row_tuples(want))
    if g == w:
        return None
    extra, missing = g - w, w - g
    return (f"{what}: {sum(extra.values())} unexpected rows "
            f"(e.g. {next(iter(extra), None)}), {sum(missing.values())} "
            f"missing (e.g. {next(iter(missing), None)})")


def aggregate(df: pd.DataFrame) -> dict:
    """The head/time-travel aggregation: per event_type row count, sum of
    ids and sum of values."""
    out = {}
    for et, g in df.groupby("event_type"):
        out[str(et)] = (len(g), int(g["event_id"].sum()),
                        int(g["user_id"].sum()), float(g["value"].sum()))
    return out


def same_aggregate(got: dict, want: dict, what: str):
    if set(got) != set(want):
        return f"{what}: groups {sorted(got)} vs {sorted(want)}"
    for k in want:
        g, w = got[k], want[k]
        if g[:3] != w[:3] or not math.isclose(g[3], w[3], rel_tol=1e-9,
                                              abs_tol=1e-6):
            return f"{what}: group {k} got {g}, want {w}"
    return None


def net_changes(before: pd.DataFrame, after: pd.DataFrame):
    """Model net diff between two states: (inserted, deleted) multisets."""
    b, a = Counter(row_tuples(before)), Counter(row_tuples(after))
    return a - b, b - a


def same_changes(feed: pd.DataFrame, before: pd.DataFrame,
                 after: pd.DataFrame, what: str):
    """A row-level change feed, with identical delete/insert pairs cancelled
    (the file-granular tier re-emits untouched rows as such pairs), equals
    the model's net diff."""
    ins = Counter(row_tuples(feed[feed["_change_type"] == "insert"]))
    dele = Counter(row_tuples(feed[feed["_change_type"] == "delete"]))
    want_ins, want_del = net_changes(before, after)
    if ins - dele == want_ins and dele - ins == want_del:
        return None
    return (f"{what}: net inserts {sum((ins - dele).values())} vs "
            f"{sum(want_ins.values())}, net deletes "
            f"{sum((dele - ins).values())} vs {sum(want_del.values())}")


# ---------------------------------------------------------------- log fold

def fold(issued: list[tuple[str, str]], seq: int) -> dict[str, str]:
    """Partition -> last version label issued at commits 1..seq."""
    out = {}
    for part, label in issued[:seq]:
        out[part] = label
    return out


def same_fold(version, issued, seq: int, what: str):
    got = {p.render(): v.label
           for p, v in version.partition_versions.items()}
    want = fold(issued, seq)
    if got == want:
        return None
    diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{what}: {len(diff)} partitions differ (e.g. {diff[:1]})"


def same_messages(updates, messages: list[str], what: str):
    """``updates()`` lists every message issued, newest first."""
    got = [u.message for u in updates]
    want = list(reversed(messages))
    if got == want:
        return None
    return f"{what}: {len(got)} messages vs {len(want)} issued"


# -------------------------------------------------------- analytics oracle

def _canon(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return ("f", float(f"{v:.6g}") if math.isfinite(v) else repr(v))
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return ("t", pd.Timestamp(v).tz_localize(None).isoformat()
                if pd.Timestamp(v).tzinfo else pd.Timestamp(v).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if v is None:
        return ("n", "")
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("f", float(f"{float(v):.6g}"))
    return ("s", str(v))


def _close(a, b, places: int | None = None) -> bool:
    """Equal, floats at a relative tolerance. A value rounded to ``places``
    decimals may also differ by one unit in its last place: the float sum
    under ``ROUND`` can land on either side of a half unit, depending on
    the order of the reduction."""
    a = float(a) if isinstance(a, Decimal) else a
    b = float(b) if isinstance(b, Decimal) else b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if places is not None and abs(a - b) <= 10.0 ** -places * (1 + 1e-6):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return _canon(a) == _canon(b)


_ROUNDED = re.compile(r"ROUND\(.*?,\s*(\d+)\)\s+AS\s+(\w+)",
                      re.IGNORECASE | re.DOTALL)


def rounded_columns(sql: str) -> dict[str, int]:
    """Output column -> decimals, for each ``ROUND(expr, d) AS col`` of an
    oracle query."""
    return {col: int(d) for d, col in _ROUNDED.findall(sql)}


def same_result(cols: list[str], rows: list[tuple], oracle_cols: list[str],
                oracle_rows: list[tuple], what: str,
                rounded: dict[str, int] | None = None):
    """Spark rows vs DuckDB rows: row count, column names, then rows
    matched order-insensitively with floats at a relative tolerance;
    ``rounded`` gives the decimals of the columns the oracle rounds."""
    if len(rows) != len(oracle_rows):
        return f"{what}: {len(rows)} rows vs oracle {len(oracle_rows)}"
    if sorted(cols) != sorted(oracle_cols):
        return f"{what}: columns {sorted(cols)} vs {sorted(oracle_cols)}"
    order = [oracle_cols.index(c) for c in cols]
    oracle_rows = [tuple(r[i] for i in order) for r in oracle_rows]

    def key(r):
        return tuple(_canon(v) for v in r)

    places = [(rounded or {}).get(c) for c in cols]
    for g, w in zip(sorted(rows, key=key), sorted(oracle_rows, key=key)):
        if not all(_close(a, b, d) for a, b, d in zip(g, w, places)):
            return f"{what}: row {g} vs oracle {w}"
    return None
