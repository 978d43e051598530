"""Traffic shape of an ``events`` (+ ``embeddings``) lake, as JSON:

    python3 perfbench/measure.py <lake dir>

The generator's parameters in ``lakes.py`` come from running this once on
the read-only sf0.1 testdata (its output is ``sf01_shape.json``); the
generator test runs it on a generated lake and compares.  ``<lake dir>``
holds ``events.parquet`` (a file or a directory of files) and, optionally,
``embeddings.parquet``.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

K = "CAST(json_extract_string(props, '$.k') AS INT)"


def shape(lake: str) -> dict:
    con = duckdb.connect()
    ev = os.path.join(lake, "events.parquet")
    src = f"read_parquet('{ev}/*.parquet')" if os.path.isdir(ev) else f"read_parquet('{ev}')"
    con.execute(f"CREATE VIEW events AS SELECT * FROM {src}")

    def one(sql: str):
        return con.execute(sql).fetchone()

    rows, users, days, keys = one(
        f"SELECT COUNT(*), COUNT(DISTINCT user_id), COUNT(DISTINCT CAST(ts AS DATE)), "
        f"COUNT(DISTINCT {K}) FROM events"
    )
    types = dict(
        con.execute(
            "SELECT event_type, ROUND(COUNT(*) / SUM(COUNT(*)) OVER (), 4) "
            "FROM events GROUP BY 1 ORDER BY 1"
        ).fetchall()
    )
    per_user = one(
        "WITH u AS (SELECT user_id, COUNT(*) n FROM events GROUP BY 1), "
        "r AS (SELECT n, row_number() OVER (ORDER BY n DESC) rk, COUNT(*) OVER () tot FROM u) "
        "SELECT MIN(n), MEDIAN(n), MAX(n), "
        "SUM(n) FILTER (WHERE rk <= tot / 10) / SUM(n) FROM r"
    )
    value = one("SELECT AVG(value), STDDEV(value), MEDIAN(value) FROM events")
    # q69_pagerank's contact graph: distinct (key, user) purchases, then the
    # key self-join's pair fanout and its distinct user pairs
    q69 = one(
        f"WITH p AS (SELECT DISTINCT {K} k, user_id FROM events WHERE event_type = 'purchase'), "
        "g AS (SELECT k, COUNT(*) c FROM p GROUP BY 1) "
        "SELECT (SELECT COUNT(*) FROM p), (SELECT SUM(c * c) FROM g), "
        "(SELECT COUNT(*) FROM (SELECT DISTINCT a.user_id, b.user_id "
        " FROM p a JOIN p b USING (k) WHERE a.user_id <> b.user_id))"
    )
    out = {
        "events": rows,
        "users": users,
        "days": days,
        "keys": keys,
        "event_type_share": types,
        "events_per_user": {"min": per_user[0], "median": per_user[1], "max": per_user[2]},
        "top10pct_users_event_share": round(per_user[3], 4),
        "value": {"mean": round(value[0], 2), "sd": round(value[1], 2),
                  "median": round(value[2], 2)},
        "q69_distinct_key_user": q69[0],
        "q69_pair_fanout": int(q69[1]),
        "q69_distinct_user_pairs": q69[2],
    }
    emb = os.path.join(lake, "embeddings.parquet")
    if os.path.exists(emb):
        con.execute(f"CREATE VIEW emb AS SELECT * FROM read_parquet('{emb}')")
        n, labels, dim, norm_lo, norm_hi = one(
            "SELECT COUNT(*), COUNT(DISTINCT label), MAX(len(embedding)), "
            "MIN(sqrt(list_dot_product(embedding, embedding))), "
            "MAX(sqrt(list_dot_product(embedding, embedding))) FROM emb"
        )
        # norm of each label's mean vector: ~1/sqrt(vectors per label) when
        # labels carry no cluster structure
        center = one(
            "WITH x AS (SELECT label, unnest(embedding) v, generate_subscripts(embedding, 1) d "
            "FROM emb), c AS (SELECT label, d, AVG(v) m FROM x GROUP BY 1, 2) "
            "SELECT MAX(s) FROM (SELECT label, sqrt(SUM(m * m)) s FROM c GROUP BY 1)"
        )[0]
        out["embeddings"] = {
            "vectors": n, "dim": dim, "labels": labels,
            "norm": [round(norm_lo, 4), round(norm_hi, 4)],
            "max_label_center_norm": round(center, 4),
        }
    con.close()
    return out


if __name__ == "__main__":
    print(json.dumps(shape(sys.argv[1]), indent=1))
