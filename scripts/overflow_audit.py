"""Exact-integer carrier overflow audit (judge r10 item #2).

The gini_split class: catalog entries that carry degree >= 2 products
of data-scale quantities in exact int64 (the cents/rank idiom). Each
was found by enumerating every sum-of-product aggregate in
queries.py (grep ``sum(... * ...)``) plus the window-carried products
(cusum), then keeping the ones whose product mixes two quantities
that GROW with data volume. This script MEASURES each carrier's
actual max |value| at a given sf_dir with DuckDB (HUGEINT sums — the
probe itself cannot overflow), applies the carrier's growth law under
replication (how the value scales when every input row is duplicated
SF times), and prints the max replication factor before the carrier
crosses 2^63-1.

Growth laws under replication of sf0.1 (the bench's scale knob):
  SF^3  spearman_corr      rho_den = n(n^2-1), n = |customer| rows
  SF^2  welch_ttest        md_num = s1*n2 - s2*n1 (both sides linear)
  SF^2  cusum_changepoint  dev = |n*S_k - k*S_n| (count x cents-sum)
  SF^2  auc_metric         auc_num2 <= 2*n_pos*n_neg
  SF^2  lag_correlation    den_y = n*syy - sy^2 (hourly counts^2)
  SF^2  cuped_adjust       sxx = sum over users of (per-user cents)^2
  SF^2  spend_gini         gini_den = n_cust * sum_cents per nation
  SF^2  gains_table        cum_pos <= n * n_pos (global ranks x flags)
  SF^1  multi_ols          stty = sum t^2*y : t bounded by the date
                           domain (2404 days), y = daily dollars ~ SF
  SF^1  welch_ttest q1     q1 = sum c^2 : c bounded by value domain
  SF^1  ols_trend          slope_num : day index bounded (~30), y ~ SF
  SF^1  sales_trend        slope_num : month index bounded (~139)
  SF^0  twap               twap_num <= max_cents * time-span (domain
                           bounded; more rows only split segments)
  SF^0  multi_ols s4       sum t^4 over the fixed 2405-day domain
  fixed gini_split         r10 cf1a6b4: cubic carrier moved to double
  -     anomaly_events / stream_anomaly: already decimal(38,0)/HUGEINT

Usage: python scripts/overflow_audit.py [sf_dir]
Prints one row per carrier: measured max at SF=1, growth law,
max safe SF, and the absolute data size that represents.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pygr_spark.session import DRIVER_TABLES  # noqa: E402

I64 = 2**63 - 1

#: (entry, carrier, growth_exponent, probe SQL returning one BIGINT-able
#: value = max |carrier| at this sf_dir). Probes compute in DuckDB
#: default (HUGEINT-summing) arithmetic so the probe never overflows.
PROBES: list[tuple[str, str, int, str]] = [
    (
        "spearman_corr", "rho_den = n(n^2-1)", 3,
        "SELECT n * (n * n - 1) FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS n FROM customer)",
    ),
    (
        "spearman_corr", "6*sd2 <= 2n^3 (worst case)", 3,
        "SELECT 2 * n * n * n FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS n FROM customer)",
    ),
    (
        "welch_ttest", "md_num term s1*n2", 2,
        "SELECT max(abs(s1) * (nt - n1)) FROM"
        " (SELECT event_type, CAST(count(*) AS HUGEINT) AS n1,"
        "   sum(CAST(round(value*100,0) AS HUGEINT)) AS s1,"
        "   sum(CAST(count(*) AS HUGEINT)) OVER () AS nt"
        "  FROM events GROUP BY 1)",
    ),
    (
        "welch_ttest", "q1 = sum c^2", 1,
        "SELECT max(q1) FROM"
        " (SELECT sum(CAST(round(value*100,0) AS HUGEINT)"
        "   * CAST(round(value*100,0) AS HUGEINT)) AS q1"
        "  FROM events GROUP BY event_type)",
    ),
    (
        "cusum_changepoint", "dev = |n*S_k - k*S_n|", 2,
        "SELECT max(dev) FROM (SELECT abs(n * s_k - k * s_n) AS dev FROM"
        " (SELECT CAST(row_number() OVER (PARTITION BY event_type"
        "    ORDER BY epoch_ns(ts), event_id) AS HUGEINT) AS k,"
        "   sum(CAST(round(value*100) AS HUGEINT)) OVER"
        "    (PARTITION BY event_type ORDER BY epoch_ns(ts), event_id)"
        "    AS s_k,"
        "   CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n,"
        "   sum(CAST(round(value*100) AS HUGEINT)) OVER"
        "    (PARTITION BY event_type) AS s_n"
        "  FROM events))",
    ),
    (
        "auc_metric", "auc_den2 = 2*n_pos*n_neg", 2,
        "SELECT 2 * sum(CASE WHEN label < 5 THEN 1 END)"
        " * sum(CASE WHEN label >= 5 THEN 1 END)"
        " FROM (SELECT CAST(label AS HUGEINT) AS label FROM embeddings)",
    ),
    (
        "lag_correlation", "den_y = n*syy - sy^2", 2,
        "SELECT max(n * syy) FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS n,"
        "   sum(CAST(c AS HUGEINT) * c) AS syy FROM"
        "  (SELECT count(*) AS c FROM events"
        "   WHERE event_type IN ('click','purchase')"
        "   GROUP BY event_type, epoch_ns(ts)//1000000000//3600)"
        "  GROUP BY 1=1)",
    ),
    (
        # theta's n*sxx-sx^2 is evaluated in DOUBLE; the int64
        # carriers that can wrap are the stored moments sxx/sxy
        "cuped_adjust", "sxx = sum (per-user cents)^2", 2,
        "SELECT sum(CAST(x AS HUGEINT) * x) FROM"
        " (SELECT sum(CAST(round(value*100,0) AS HUGEINT)) AS x"
        "  FROM events GROUP BY user_id)",
    ),
    (
        "spend_gini", "gini_den = n_cust*sum_cents", 2,
        "SELECT max(nc * sc) FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS nc, sum(tot) AS sc FROM"
        "  (SELECT c_nationkey AS nat, o_custkey,"
        "    sum(CAST(round(o_totalprice*100) AS HUGEINT)) AS tot"
        "   FROM orders JOIN customer ON o_custkey = c_custkey"
        "   GROUP BY 1, 2)"
        "  GROUP BY nat)",
    ),
    (
        "gains_table", "cum_pos <= n*n_pos", 2,
        "SELECT n * np FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS n,"
        "   CAST(sum(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS HUGEINT)"
        "    AS np FROM embeddings)",
    ),
    (
        "multi_ols", "stty = sum t^2*y", 1,
        "SELECT abs(sum(t * t * y)) FROM"
        " (SELECT CAST(datediff('day', DATE '1995-01-01',"
        "    CAST(o_orderdate AS DATE)) AS HUGEINT) AS t,"
        "   sum(CAST(round(o_totalprice, 0) AS HUGEINT)) AS y"
        "  FROM orders GROUP BY 1)",
    ),
    (
        "multi_ols", "s4 = sum t^4 (domain-bounded)", 0,
        "SELECT sum(t*t*t*t) FROM"
        " (SELECT DISTINCT CAST(datediff('day', DATE '1995-01-01',"
        "    CAST(o_orderdate AS DATE)) AS HUGEINT) AS t FROM orders)",
    ),
    (
        "ols_trend", "n*sxy (slope_num term)", 1,
        "SELECT max(abs(n * sxy)) FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS n,"
        "   sum(CAST(x AS HUGEINT) * y) AS sxy FROM"
        "  (SELECT event_type,"
        "    (epoch_ns(ts)//1000000000//86400)"
        "     - min(epoch_ns(ts)//1000000000//86400) OVER () AS x,"
        "    CAST(round(value*100,0) AS HUGEINT) AS y FROM events)"
        "  GROUP BY event_type)",
    ),
    (
        "sales_trend", "n*sxy (slope_num term)", 1,
        "SELECT max(abs(n * sxy)) FROM"
        " (SELECT CAST(count(*) AS HUGEINT) AS n,"
        "   sum(CAST(x AS HUGEINT) * y) AS sxy FROM"
        "  (SELECT n_nationkey AS nat,"
        "    CAST((year(CAST(o_orderdate AS DATE)) - 1990) * 12"
        "     + month(CAST(o_orderdate AS DATE)) - 1 AS HUGEINT) AS x,"
        "    CAST(round(o_totalprice * 100) AS HUGEINT) AS y"
        "   FROM orders JOIN customer ON o_custkey = c_custkey"
        "   JOIN nation ON c_nationkey = n_nationkey)"
        "  GROUP BY nat)",
    ),
    (
        "twap", "twap_num <= cents*span (domain-bounded)", 0,
        "SELECT CAST(max(round(value*100)) AS HUGEINT)"
        " * (max(epoch_ns(ts)//1000000000)"
        "    - min(epoch_ns(ts)//1000000000)) FROM events",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    con = duckdb.connect()
    con.execute("SET threads TO 8")
    for t in DRIVER_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
            )
    print(f"# carrier audit at {sf_dir} (values at SF=1 of this dir)")
    print(f"{'entry':18s} {'carrier':38s} {'law':>5s} "
          f"{'max@SF=1':>12s} {'safe SF':>9s}")
    for entry, carrier, k, sql in PROBES:
        v = con.execute(sql).fetchone()[0]
        v = int(v) if v is not None else 0
        if v <= 0:
            safe = "inf"
        elif k == 0:
            safe = "inf" if v <= I64 else "OVERFLOWS"
        else:
            # v * SF^k <= I64  =>  SF <= (I64 / v)^(1/k)
            safe = f"{(I64 / v) ** (1.0 / k):.0f}x"
        print(f"{entry:18s} {carrier:38s} SF^{k:<2d} {v:12.3e} {safe:>9s}")


if __name__ == "__main__":
    main()
