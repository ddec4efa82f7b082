#!/usr/bin/env python3
"""Profiles the repository's provisioned test tables (TESTDATA.md) so the
benchmark's table generator (TpchData.scala) follows them.

    python3 perfbench/profile/profile.py measure TABLES > \
        perfbench/src/main/resources/graft/perfbench/tpch_profile.json
    python3 perfbench/profile/profile.py compare A B

`measure` reads TABLES/sf0.001, TABLES/sf0.01 and TABLES/sf0.1 and writes
the profile: how each table's row count scales, the distribution family
and parameters of every column the generator fills, and under "evidence"
the statistics each family rests on. `compare` prints the figures that
set the cost of the benchmark's registry queries (near-duplicate pairs,
co-order part pairs, as-of candidates, nearest-neighbour skew, vocabulary)
for two table directories at the same scale factor, for example the
provisioned sf0.01 tables and the generator's output at sf0.01 (`java
-cp <classpath> graft.perfbench.TpchData DIR 0.01 SEED`).
"""
import collections
import json
import os
import statistics
import sys

import duckdb
import numpy as np

SCALES = ("sf0.001", "sf0.01", "sf0.1")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/**/*.parquet')"
                    if os.path.isdir(f"{d}/{t}.parquet") else
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return con


def one(con, sql):
    return con.execute(sql).fetchone()


def col(con, sql):
    return [r[0] for r in con.execute(sql).fetchall()]


def weights(con, sql):
    """Value -> share, from a `SELECT value, count` query."""
    rows = con.execute(sql).fetchall()
    n = sum(c for _, c in rows)
    return {v: round(c / n, 4) for v, c in sorted(rows)}


def days(con, table, column):
    """[first, last] of a timestamp column, in days since 1970-01-01."""
    return list(one(con, f"SELECT datediff('day', DATE '1970-01-01', MIN({column})), "
                         f"datediff('day', DATE '1970-01-01', MAX({column})) FROM {table}"))


def row_rules(cons):
    """rows = max(min, per_sf * sf), fitted on the three scales."""
    rules = {}
    for t in ("customer", "supplier", "part", "orders", "events", "documents", "embeddings"):
        n = {s: one(c, f"SELECT COUNT(*) FROM {t}")[0] for s, c in cons.items()}
        per_sf = round(n["sf0.1"] / 0.1)
        floor = n["sf0.001"] if n["sf0.001"] > per_sf * 0.001 else 0
        fits = all(max(floor, round(per_sf * float(s[2:]))) == n[s] for s in SCALES)
        rules[t] = {"per_sf": per_sf, "min": floor, "observed": n, "rule_fits": fits}
    return rules


def documents(con):
    docs = con.execute("SELECT doc_id, text, lang, source, n_chars FROM documents").fetchall()
    toks = [t.split(" ") for _, t, _, _, _ in docs]
    # a near-duplicate is another document's text plus a marker word; the
    # marker is the one word that only ever appears at the end
    ends = collections.Counter(t[-1] for t in toks)
    inner = collections.Counter(w for t in toks for w in t[:-1])
    marker = min(ends, key=lambda w: inner[w] / ends[w])
    strip = [t[:len(t) - next(i for i, w in enumerate(reversed(t)) if w != marker)] for t in toks]
    base = [t for t, s in zip(toks, strip) if len(s) == len(t)]
    freq = collections.Counter(w for t in base for w in t)
    lens = [len(t) for t in base]
    texts = collections.Counter(" ".join(s) for s in strip)
    copies = sum(1 for t, s in zip(toks, strip) if len(s) < len(t))
    src_rule = all(src == f"src{i % 20}" for i, _, _, src, _ in docs)
    return {
        "words": sorted(freq),
        "word_weights": [round(freq[w] / sum(freq.values()), 5) for w in sorted(freq)],
        "length": [min(lens), max(lens)],
        "near_dup_share": round(copies / len(docs), 4),
        "near_dup_marker": marker,
        "near_dup_source": "any other document, copies included (a copy of a copy carries the marker twice)",
        "langs": weights(con, "SELECT lang, COUNT(*) FROM documents GROUP BY 1"),
        "sources": 20 if src_rule else None,
        "source_rule": "src<doc_id mod 20>" if src_rule else "not a function of doc_id",
        "evidence": {
            "length_uniform_min_max_count": [min(collections.Counter(lens).values()),
                                             max(collections.Counter(lens).values())],
            "word_weight_max_over_min": round(max(freq.values()) / min(freq.values()), 3),
            "marker_suffix_counts": dict(sorted(collections.Counter(
                len(t) - len(s) for t, s in zip(toks, strip)).items())),
            "largest_identical_group": max(texts.values()),
            "n_chars_is_length": all(n == len(t) for _, t, _, _, n in docs),
        },
    }


def embeddings(con):
    rows = con.execute("SELECT embedding, label FROM embeddings").fetchall()
    x = np.array([r[0] for r in rows], dtype=float)
    y = np.array([r[1] for r in rows])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    s = xn @ xn.T
    same = y[:, None] == y[None, :]
    np.fill_diagonal(same, False)
    other = ~same
    np.fill_diagonal(other, False)
    r = (x - x.mean(0)).ravel()
    return {
        "dim": int(x.shape[1]),
        "labels": int(y.max()) + 1,
        "family": "every component standard normal, the vector scaled to unit length; label uniform and independent of the vector",
        "evidence": {
            "norm_range": [round(float(np.linalg.norm(x, axis=1).min()), 5),
                           round(float(np.linalg.norm(x, axis=1).max()), 5)],
            "component_kurtosis": round(float(((r - r.mean()) ** 4).mean() / r.var() ** 2), 3),
            "mean_cosine_same_label": round(float(s[same].mean()), 4),
            "mean_cosine_other_label": round(float(s[other].mean()), 4),
            "label_counts": sorted(collections.Counter(y.tolist()).values()),
        },
    }


def events(con, n_sf):
    gaps = col(con, "SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER (ORDER BY event_id)) FROM events")
    gaps = [g for g in gaps if g is not None]
    mean = statistics.fmean(gaps)
    t0, t1 = one(con, "SELECT MIN(ts), MAX(ts) FROM events")
    users = one(con, "SELECT COUNT(DISTINCT user_id), MAX(user_id) FROM events")
    vals = col(con, "SELECT value FROM events")
    return {
        "start": str(t0.date()),
        "span_days": round((t1 - t0).total_seconds() / 86400),
        "gap": "exponential, mean span / rows; ts rises with event_id",
        "users_per_sf": round((users[1] + 1) / n_sf),
        "types": weights(con, "SELECT event_type, COUNT(*) FROM events GROUP BY 1"),
        "value": "exponential, rounded to cents",
        "value_mean": round(statistics.fmean(vals), 1),
        "props_k": [one(con, "SELECT MIN(CAST(json_extract(props, '$.k') AS INT)) FROM events")[0],
                    one(con, "SELECT MAX(CAST(json_extract(props, '$.k') AS INT)) FROM events")[0]],
        "evidence": {
            "gap_cv": round(statistics.pstdev(gaps) / mean, 3),
            "gap_mean_times_rows_over_span": round(mean * len(gaps) / ((t1 - t0).total_seconds() * 1e6), 3),
            "users_seen": users[0],
            "value_sd_over_mean": round(statistics.pstdev(vals) / statistics.fmean(vals), 3),
        },
    }


def relational(con):
    li = one(con, "SELECT COUNT(*) FROM lineitem")[0]
    orders = one(con, "SELECT COUNT(*) FROM orders")[0]
    per_order = col(con, "SELECT COUNT(l.l_orderkey) FROM orders o LEFT JOIN lineitem l "
                         "ON l.l_orderkey = o.o_orderkey GROUP BY o.o_orderkey")
    cust_use = col(con, "SELECT COUNT(o.o_orderkey) FROM customer c LEFT JOIN orders o "
                        "ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey")
    part_use = col(con, "SELECT COUNT(*) FROM lineitem GROUP BY l_partkey")
    rng = lambda sql: list(one(con, sql))
    return {
        "customer": {
            "nations": one(con, "SELECT COUNT(*) FROM nation")[0],
            "acctbal": rng("SELECT MIN(c_acctbal), MAX(c_acctbal) FROM customer"),
            "segments": sorted(col(con, "SELECT DISTINCT c_mktsegment FROM customer")),
        },
        "supplier": {"acctbal": rng("SELECT MIN(s_acctbal), MAX(s_acctbal) FROM supplier")},
        "part": {
            "adjectives": sorted({n.split(" ")[0] for n in col(con, "SELECT p_name FROM part")}),
            "nouns": sorted({n.split(" ")[1] for n in col(con, "SELECT p_name FROM part")}),
            "brands": one(con, "SELECT COUNT(DISTINCT p_brand) FROM part")[0],
            "types": sorted(col(con, "SELECT DISTINCT p_type FROM part")),
            "size": rng("SELECT MIN(p_size), MAX(p_size) FROM part"),
            "retail_price": "900 + (p_partkey mod 1000) / 10",
        },
        "orders": {
            "date_days": days(con, "orders", "o_orderdate"),
            "statuses": sorted(col(con, "SELECT DISTINCT o_orderstatus FROM orders")),
            "priorities": sorted(col(con, "SELECT DISTINCT o_orderpriority FROM orders")),
            "total_price": rng("SELECT MIN(o_totalprice), MAX(o_totalprice) FROM orders"),
            "cust_key": "uniform over customers",
            "evidence": {"cust_use_var_over_mean": round(statistics.pvariance(cust_use)
                                                         / statistics.fmean(cust_use), 3)},
        },
        "lineitem": {
            "per_order": round(li / orders, 3),
            "order_key": "uniform over orders, so lines per order are Poisson and some orders have none",
            "line_number": rng("SELECT MIN(l_linenumber), MAX(l_linenumber) FROM lineitem"),
            "quantity": rng("SELECT MIN(l_quantity), MAX(l_quantity) FROM lineitem"),
            "extended_price": rng("SELECT MIN(l_extendedprice), MAX(l_extendedprice) FROM lineitem"),
            "discount": rng("SELECT MIN(l_discount), MAX(l_discount) FROM lineitem"),
            "tax": rng("SELECT MIN(l_tax), MAX(l_tax) FROM lineitem"),
            "ship_date_days": days(con, "lineitem", "l_shipdate"),
            "flags": sorted(col(con, "SELECT DISTINCT l_returnflag FROM lineitem")),
            "line_statuses": sorted(col(con, "SELECT DISTINCT l_linestatus FROM lineitem")),
            "evidence": {
                "lines_per_order_var_over_mean": round(statistics.pvariance(per_order)
                                                      / statistics.fmean(per_order), 3),
                "orders_without_lines": sum(1 for n in per_order if n == 0),
                "part_use_var_over_mean": round(statistics.pvariance(part_use)
                                               / statistics.fmean(part_use), 3),
                "corr_price_quantity": round(one(con, "SELECT CORR(l_extendedprice, l_quantity) FROM lineitem")[0], 3),
                "corr_ship_order_date": round(one(con,
                    "SELECT CORR(epoch(l_shipdate), epoch(o_orderdate)) FROM lineitem "
                    "JOIN orders ON l_orderkey = o_orderkey")[0], 3),
            },
        },
    }


def measure(root):
    cons = {s: connect(os.path.join(root, s)) for s in SCALES}
    big = cons["sf0.1"]
    prof = {
        "about": "Profile of the provisioned test tables (TESTDATA.md) at scale factors 0.001, "
                 "0.01 and 0.1, written by perfbench/profile/profile.py measure. TpchData.scala "
                 "generates the registry workload's tables from it.",
        "rows": row_rules(cons),
        "lineitem_rows": "per_order x orders",
        "users": "users_per_sf x sf",
    }
    prof.update(relational(big))
    prof["events"] = events(big, 0.1)
    prof["documents"] = documents(big)
    prof["embeddings"] = embeddings(big)
    return prof


def cost_figures(d):
    """The figures that set the registry subset's cost, per table."""
    con = connect(d)
    toks = [t.split(" ") for t in col(con, "SELECT text FROM documents ORDER BY doc_id")]
    sh = [set(zip(t, t[1:], t[2:])) for t in toks]
    near = sum(1 for i in range(len(sh)) for j in range(i)
               if len(sh[i] & sh[j]) >= 0.8 * len(sh[i] | sh[j]))
    x = np.array(col(con, "SELECT embedding FROM embeddings ORDER BY vec_id"), dtype=float)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    s = x @ x.T
    np.fill_diagonal(s, -2)
    knn = np.argsort(-s, axis=1)[:, :10]
    indeg = np.bincount(knn.ravel(), minlength=len(x))
    k = indeg - indeg.mean()
    return {
        "documents": len(toks),
        "mean_tokens": round(statistics.fmean(len(t) for t in toks), 2),
        "vocabulary": len({w for t in toks for w in t}),
        "near_dup_pairs_3shingle_jaccard_0.8": near,
        "lineitem_rows": one(con, "SELECT COUNT(*) FROM lineitem")[0],
        "co_order_part_pairs": one(con,
            "WITH i AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem) "
            "SELECT COUNT(*) FROM (SELECT DISTINCT a.p, b.p FROM i a JOIN i b "
            "ON a.o = b.o AND a.p < b.p)")[0],
        "events": one(con, "SELECT COUNT(*) FROM events")[0],
        "users": one(con, "SELECT COUNT(DISTINCT user_id) FROM events")[0],
        "clicks_with_earlier_purchase": one(con,
            "SELECT COUNT(*) FROM events c WHERE c.event_type = 'click' AND EXISTS ("
            "SELECT 1 FROM events p WHERE p.event_type = 'purchase' "
            "AND p.user_id = c.user_id AND p.ts <= c.ts)")[0],
        "embeddings": len(x),
        "knn10_in_degree_skew": round(float((k ** 3).mean() / (k ** 2).mean() ** 1.5), 3),
        "q7_cross_nation_lines": one(con,
            "SELECT COUNT(*) FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey "
            "WHERE s_nationkey <> c_nationkey")[0],
    }


def main():
    if len(sys.argv) == 3 and sys.argv[1] == "measure":
        json.dump(measure(sys.argv[2]), sys.stdout, indent=1, default=str)
        print()
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        a, b = cost_figures(sys.argv[2]), cost_figures(sys.argv[3])
        json.dump({k: [a[k], b[k]] for k in a}, sys.stdout, indent=1)
        print()
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
