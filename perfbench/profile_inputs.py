"""Compare the generated tables with a directory of the program's test
tables, figure by figure (the figures ``README.md`` records):

    python3 perfbench/profile_inputs.py <dir with sf0.01 parquet> [seed]

Each line gives a figure measured on the test tables, then on the tables
``inputs.py`` generates from ``seed`` (default 1).
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

import duckdb
import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))
import inputs  # noqa: E402

FIGURES = {
    "rows": "SELECT (SELECT count(*) FROM lineitem), (SELECT count(*) FROM "
            "orders), (SELECT count(*) FROM customer), (SELECT count(*) FROM "
            "part), (SELECT count(*) FROM events), (SELECT count(*) FROM "
            "documents), (SELECT count(*) FROM embeddings)",
    "lineitem: distinct orders, lines per order max, linenumber range":
        "SELECT count(DISTINCT l_orderkey), (SELECT max(c) FROM (SELECT "
        "count(*) c FROM lineitem GROUP BY l_orderkey)), min(l_linenumber), "
        "max(l_linenumber) FROM lineitem",
    "lineitem: shipdate range, extendedprice mean":
        "SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE, "
        "round(avg(l_extendedprice)) FROM lineitem",
    "orders: orderdate range, distinct customers":
        "SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE, "
        "count(DISTINCT o_custkey) FROM orders",
    "events: users, types, days, value mean/sd/max":
        "SELECT count(DISTINCT user_id), count(DISTINCT event_type), "
        "count(DISTINCT ts::DATE), round(avg(value), 1), "
        "round(stddev(value), 1), max(value) FROM events",
    "events: rows per user p10/p50/p90":
        "SELECT quantile_cont(c, [0.1, 0.5, 0.9]) FROM (SELECT count(*) c "
        "FROM events GROUP BY user_id)",
    "documents: vocabulary, words per doc min/mean/max, chars mean":
        "SELECT (SELECT count(DISTINCT w) FROM (SELECT unnest(string_split("
        "text, ' ')) w FROM documents)), min(n), round(avg(n), 1), max(n), "
        "(SELECT round(avg(n_chars)) FROM documents) FROM (SELECT "
        "len(string_split(text, ' ')) n FROM documents)",
    "embeddings: dimension, labels, mean norm":
        "SELECT max(len(embedding)), count(DISTINCT label), round(avg(sqrt("
        "list_sum(list_transform(embedding, x -> x * x)))), 4) "
        "FROM embeddings",
}


def figures(data: Path) -> dict:
    con = duckdb.connect()
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                    f"read_parquet('{p}')")
    return {k: con.sql(q).fetchone() for k, q in FIGURES.items()}


def main(argv) -> int:
    real = Path(argv[1])
    seed = int(argv[2]) if len(argv) > 2 else 1
    with tempfile.TemporaryDirectory() as tmp:
        inputs.write_analytics_tables(np.random.default_rng(seed), Path(tmp))
        gen = figures(Path(tmp))
    test = figures(real)
    for k in FIGURES:
        print(f"{k}\n  test tables: {test[k]}\n  generated:   {gen[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
