"""Each output check of the benchmark passes on a right answer and fails on
a planted wrong one. Needs no Spark:

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd

sys.path[:0] = [str(Path(__file__).resolve().parent),
               str(Path(__file__).resolve().parent.parent)]

import checks  # noqa: E402
import inputs  # noqa: E402


def table(seed=0, rows=400):
    return inputs.events_table(np.random.default_rng(seed), rows, 4)


def altered(df, col, fn, row=0):
    out = df.copy()
    out.loc[out.index[row], col] = fn(out.loc[out.index[row], col])
    return out


def test_same_rows_ignores_order_and_catches_one_altered_row():
    t = table()
    assert checks.same_rows(t.sample(frac=1, random_state=1), t, "x") is None
    assert checks.same_rows(altered(t, "value", lambda v: v + 0.01), t, "x")
    assert checks.same_rows(t.iloc[1:], t, "x")
    assert checks.same_rows(pd.concat([t, t.iloc[:1]]), t, "x")


def test_model_semantics():
    t = table()
    d0 = inputs.day(0)
    new = inputs.events_table(np.random.default_rng(9), 5, 1, 10_000)
    over = checks.overwrite(t, new)
    assert set(over[over.event_date == d0].event_id) == set(new.event_id)
    assert len(over[over.event_date != d0]) == len(t[t.event_date != d0])
    gone = checks.delete(t, 7, 3)
    assert not (gone.user_id % 7 == 3).any()
    assert len(gone) == len(t) - (t.user_id % 7 == 3).sum()
    dbl = checks.double_value(t, 5, 1)
    hit = t.user_id % 5 == 1
    assert (dbl.value[hit.values].values == 2 * t.value[hit].values).all()
    assert (dbl.value[~hit.values].values == t.value[~hit].values).all()
    src = t.iloc[:3].assign(value=-1.0)
    merged = checks.merge(t, pd.concat([src, new]))
    assert len(merged) == len(t) + len(new)
    assert (merged.set_index("event_id").loc[src.event_id, "value"] == -1).all()


def test_same_aggregate_catches_a_count_and_a_sum_off():
    t = table()
    want = checks.aggregate(t)
    assert checks.same_aggregate(dict(want), want, "x") is None
    k = next(iter(want))
    n, ids, users, value = want[k]
    assert checks.same_aggregate({**want, k: (n + 1, ids, users, value)},
                                 want, "x")
    assert checks.same_aggregate({**want, k: (n, ids, users, value + 1)},
                                 want, "x")
    # a float sum in another reduction order still passes
    assert checks.same_aggregate(
        {**want, k: (n, ids, users, value * (1 + 1e-15))}, want, "x") is None


def feed(inserted, deleted):
    return pd.concat([inserted.assign(_change_type="insert"),
                      deleted.assign(_change_type="delete")],
                     ignore_index=True)


def test_same_changes_cancels_pairs_and_catches_a_wrong_row():
    before = table()
    after = checks.double_value(checks.delete(before, 11, 2), 13, 4)
    ins, dele = checks.net_changes(before, after)
    cols = checks.COLUMNS
    ins_df = pd.DataFrame(list(ins.elements()), columns=cols)
    del_df = pd.DataFrame(list(dele.elements()), columns=cols)
    assert checks.same_changes(feed(ins_df, del_df), before, after, "x") is None
    # the file-granular tier: untouched rows re-emitted as delete+insert
    untouched = before.iloc[:20]
    coarse = feed(pd.concat([ins_df, untouched]), pd.concat([del_df, untouched]))
    assert checks.same_changes(coarse, before, after, "x") is None
    wrong = altered(ins_df, "value", lambda v: v + 1)
    assert checks.same_changes(feed(wrong, del_df), before, after, "x")
    assert checks.same_changes(feed(ins_df, del_df.iloc[1:]), before, after,
                               "x")


def test_same_fold_catches_a_stale_label():
    from table_versions_spark.core.model import (
        Partition,
        PartitionedTableVersion,
        Version,
    )

    v = [Version(1_700_000_000 + i, i, f"00000000-0000-0000-0000-00000000000{i}")
         for i in range(3)]

    def state(mapping):
        return PartitionedTableVersion(
            {Partition.parse(k): val for k, val in mapping.items()})

    issued = [("p=1", v[0].label), ("p=2", v[1].label), ("p=1", v[2].label)]
    assert checks.same_fold(state({"p=1": v[2], "p=2": v[1]}), issued, 3,
                            "x") is None
    assert checks.same_fold(state({"p=1": v[0], "p=2": v[1]}), issued, 2,
                            "x") is None
    assert checks.same_fold(state({"p=1": v[0], "p=2": v[1]}), issued, 3, "x")
    assert checks.same_fold(state({"p=1": v[2]}), issued, 3, "x")


def test_same_messages_wants_every_message_newest_first():
    msgs = ["init", "c1", "c2"]
    ups = [SimpleNamespace(message=m) for m in reversed(msgs)]
    assert checks.same_messages(ups, msgs, "x") is None
    assert checks.same_messages(list(reversed(ups)), msgs, "x")
    assert checks.same_messages(ups[:-1], msgs, "x")


def test_same_result_matches_rows_in_any_order_and_catches_one_off():
    cols = ["k", "n", "s", "d"]
    rows = [("a", 1, 0.1 + 0.2, dt.date(1996, 1, 2)),
            ("b", 2, 1e6 / 3, dt.date(1996, 1, 3))]
    # oracle columns in another order, rows reversed, float last bits apart
    ocols = ["d", "s", "n", "k"]
    orows = [(dt.date(1996, 1, 3), 1e6 / 3 * (1 + 1e-15), 2, "b"),
             (dt.date(1996, 1, 2), 0.3, 1, "a")]
    assert checks.same_result(cols, rows, ocols, orows, "q") is None
    off = [orows[0], (dt.date(1996, 1, 2), 0.3, 2, "a")]
    assert checks.same_result(cols, rows, ocols, off, "q")
    assert checks.same_result(cols, rows, ocols, orows[:1], "q")
    assert checks.same_result(cols, rows, ["d", "s", "n", "x"], orows, "q")
    fval = [orows[0], (dt.date(1996, 1, 2), 0.31, 1, "a")]
    assert checks.same_result(cols, rows, ocols, fval, "q")


def test_same_result_allows_a_rounding_tie_and_nothing_more():
    # ROUND(sum, 2) of a float sum sitting on a half cent: one cent apart
    cols, ocols = ["k", "revenue"], ["k", "revenue"]
    rows = [(8863, 361537.87)]
    sql = "SELECT k, ROUND(SUM(p * (1 - d)), 2) AS revenue FROM t GROUP BY k"
    rounded = checks.rounded_columns(sql)
    assert rounded == {"revenue": 2}
    assert checks.same_result(cols, rows, ocols, [(8863, 361537.86)], "q",
                              rounded) is None
    assert checks.same_result(cols, rows, ocols, [(8863, 361537.85)], "q",
                              rounded)
    assert checks.same_result(cols, rows, ocols, [(8864, 361537.87)], "q",
                              rounded)
    # without the oracle's ROUND the cent counts
    assert checks.same_result(cols, rows, ocols, [(8863, 361537.86)], "q")
