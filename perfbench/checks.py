"""Output checks of the benchmark, run after the timed section.

- medallion_refresh: every refresh's silver row counts and gate results must
  equal what the generator planted, and its gold facts must hold the expected
  row counts, rows per Order_Year and money totals to the cent, read back
  with DuckDB. Every dashboard report must equal the same report written as
  DuckDB SQL over that refresh's gold, money to the cent.
- catalog_sweep: every swept query's result must equal DuckDB running the
  query's oracle SQL (`SparkEntry.oracleSql`) over the same parquet tables,
  compared in canonical form (columns sorted, rows sorted, values as
  strings), and every operation must return that result's row count.

`check` returns the failed operations with their causes, and the problems
that are not tied to one operation.
"""
import math
import os

import duckdb
import pyarrow.parquet as pq

GATE = ("order_items.Ord_ID not null", "order_items.Prod_ID not null",
        "order_reviews.Rev_ID not null", "order_reviews.Rev_ID length = 32")


def fact(gold, table, scope="all"):
    rel = f"read_parquet('{gold}/{table}/**/*.parquet', hive_partitioning = true)"
    return rel if scope == "all" else f"(SELECT * FROM {rel} WHERE Order_Year = {int(scope)})"


def dim(gold, table):
    return f"read_parquet('{gold}/{table}/*.parquet')"


def _share(dim_table, key, group):
    return (lambda g, s: f"""
        SELECT d.{group}, SUM(f.Sales_Amount) AS Group_Sales,
               round(SUM(f.Sales_Amount) * 100.0 / SUM(SUM(f.Sales_Amount)) OVER (), 2) AS Pct_Of_Total
        FROM {fact(g, 'fact_sales', s)} f JOIN {dim(g, dim_table)} d ON f.{key} = d.{key}
        GROUP BY d.{group}""",
            [(group, "exact"), ("Group_Sales", "money"), ("Pct_Of_Total", "pct")], False)


# report -> (SQL over a gold dir and a scope, [(column, kind)], ordered?)
REPORTS = {
    "monthly_sales_yoy": (lambda g, s: f"""
        WITH m AS (
          SELECT Order_Date_SK // 10000 AS Year, (Order_Date_SK % 10000) // 100 AS Month,
                 SUM(Sales_Amount) AS Sales
          FROM {fact(g, 'fact_sales', s)} GROUP BY 1, 2),
        l AS (
          SELECT *, CASE WHEN lag(Year) OVER w = Year - 1 THEN lag(Sales) OVER w END AS PrevYearSales
          FROM m WINDOW w AS (PARTITION BY Month ORDER BY Year))
        SELECT Year, Month, Sales, PrevYearSales, Sales - PrevYearSales AS YoY_Diff,
               round((Sales - PrevYearSales) * 100.0 / PrevYearSales, 2) AS YoY_Pct
        FROM l ORDER BY Year, Month""",
        [("Year", "exact"), ("Month", "exact"), ("Sales", "money"), ("PrevYearSales", "money"),
         ("YoY_Diff", "money"), ("YoY_Pct", "pct")], True),
    "top_products": (lambda g, s: f"""
        SELECT Product_ID, SUM(Sales_Amount) AS Product_Sales, COUNT(*) AS Items_Sold,
               row_number() OVER (ORDER BY SUM(Sales_Amount) DESC, Product_ID) AS Rank
        FROM {fact(g, 'fact_sales', s)} GROUP BY Product_ID
        ORDER BY Product_Sales DESC, Product_ID LIMIT 10""",
        [("Product_ID", "exact"), ("Product_Sales", "money"), ("Items_Sold", "exact"),
         ("Rank", "exact")], True),
    "avg_daily": (lambda g, s: f"""
        SELECT AVG(day_sales), AVG(day_orders), COUNT(*)
        FROM (SELECT Order_Date_SK, SUM(Total_Payment_Value) AS day_sales, COUNT(*) AS day_orders
              FROM {fact(g, 'fact_orders', s)} GROUP BY 1)""",
        [("Avg_Daily_Sales", "float"), ("Avg_Daily_Orders", "float"),
         ("Days_Observed", "exact")], True),
    "delivery_kpis": (lambda g, s: f"""
        SELECT round(AVG(Approval_Days), 2), round(AVG(Total_Delivery_Days), 2),
               SUM(CASE WHEN Customer_Delivery_Date > Estimated_Delivery_Date THEN 1 ELSE 0 END),
               COUNT(*)
        FROM {fact(g, 'fact_orders', s)}""",
        [("Avg_Approval_Days", "pct"), ("Avg_Delivery_Days", "pct"),
         ("Late_Deliveries", "exact"), ("Total_Orders", "exact")], True),
    "share_by_customer_state": _share("dim_customers", "Customer_ID", "Customer_State"),
    "share_by_seller_state": _share("dim_sellers", "Seller_ID", "Seller_State"),
    "share_by_category": _share("dim_products", "Product_ID", "Product_Category"),
}


def _same(kind, a, b):
    if a is None or b is None:
        return a is None and b is None
    if kind == "money":
        return round(a * 100) == round(b * 100)
    if kind == "pct":
        return abs(a - b) <= 0.0101
    if kind == "float":
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def report_problem(con, gold, report, scope, rows):
    """Why `rows` is not the report's result over `gold`, or None."""
    sql, cols, ordered = REPORTS[report]
    want = [list(r) for r in con.execute(sql(gold, scope)).fetchall()]
    got = [list(r) for r in rows]
    if not ordered:
        key = lambda r: (r[0] is not None, r[0])
        want, got = sorted(want, key=key), sorted(got, key=key)
    if len(want) != len(got):
        return f"{report}@{scope}: {len(got)} rows, DuckDB has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for (name, kind), a, b in zip(cols, g, w):
            if not _same(kind, a, b):
                return f"{report}@{scope}: row {i} {name} is {a!r}, DuckDB has {b!r}"
    return None


def refresh_problems(con, expected, op):
    """Why one refresh's outputs differ from the generator's expectations."""
    out = []
    if op["silver_rows"] != expected["silver_rows"]:
        diff = {t: (op["silver_rows"].get(t), n) for t, n in expected["silver_rows"].items()
                if op["silver_rows"].get(t) != n}
        out.append(f"silver rows (got, expected): {diff}")
    gate = {c["name"]: c["violations"] for c in op["gate"]}
    if gate != {name: 0 for name in GATE}:
        out.append(f"gate results {gate}")
    gold = op["gold"]
    for table, n in expected["fact_rows"].items():
        got = con.execute(f"SELECT COUNT(*) FROM {fact(gold, table)}").fetchone()[0]
        if got != n:
            out.append(f"{table}: {got} rows, expected {n}")
    for key, cents in expected["fact_cents"].items():
        table, column = key.split(".")
        got = con.execute(f"SELECT SUM(CAST(round({column} * 100) AS BIGINT)) "
                          f"FROM {fact(gold, table)}").fetchone()[0]
        if got != cents:
            out.append(f"{key}: {got} cents, expected {cents}")
    score = con.execute(f"SELECT SUM(Review_Score) FROM {fact(gold, 'fact_reviews')}").fetchone()[0]
    if score != expected["review_score_sum"]:
        out.append(f"fact_reviews.Review_Score sum {score}, expected {expected['review_score_sum']}")
    by_year = dict(con.execute(f"SELECT CAST(Order_Year AS VARCHAR), COUNT(*) "
                               f"FROM {fact(gold, 'fact_sales')} GROUP BY 1").fetchall())
    if by_year != expected["fact_sales_rows_by_year"]:
        out.append(f"fact_sales rows per Order_Year {by_year}, "
                   f"expected {expected['fact_sales_rows_by_year']}")
    return out


def canon(df):
    """tools/check.py's canonical form: columns and rows sorted, values as strings."""
    df = df[sorted(df.columns)]
    s = df.astype(str)
    return s.loc[s.sort_values(by=list(s.columns)).index].reset_index(drop=True)


def catalog_problem(con, results_dir, query, sql):
    """Why a swept query's written result differs from its oracle, or None."""
    got = pq.read_table(os.path.join(results_dir, query)).to_pandas()
    if sql is None:
        return None
    g, w = canon(got), canon(con.execute(sql).df())
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)}, DuckDB has {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows, DuckDB has {len(w)}"
    if not g.equals(w):
        return f"{int((g != w).any(axis=1).sum())} of {len(g)} rows differ from DuckDB"
    return None


def check(workload, result):
    ops = result["ops"]
    failures = {o["n"]: f"threw {o['error']}" for o in ops if o.get("error")}
    problems = []
    con = duckdb.connect()
    if workload == "medallion_refresh":
        for o in ops:
            if o["n"] in failures:
                continue
            why = refresh_problems(con, result["expected"], o)
            why += [p for r in o["reports"]
                    if (p := report_problem(con, o["gold"], r["report"], r["scope"], r["rows"]))]
            if why:
                failures[o["n"]] = "; ".join(why)
    else:
        for t in result["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{result['tables_dir']}/{t}.parquet/*.parquet')")
        query_problem = dict(result["result_errors"])
        rows = {}
        for q in result["swept"]:
            if q in query_problem:
                continue
            try:
                why = catalog_problem(con, result["results_dir"], q, result["oracle_sql"].get(q))
            except Exception as e:  # an unreadable result or a failing oracle is a mismatch
                why = f"{type(e).__name__}: {e}"
            if why:
                query_problem[q] = why
            else:
                rows[q] = pq.read_table(os.path.join(result["results_dir"], q)).num_rows
        problems += [f"{q}: {why}" for q, why in sorted(query_problem.items())]
        for o in ops:
            if o["n"] in failures:
                continue
            q = o["key"]
            if q in query_problem:
                failures[o["n"]] = f"result differs from the oracle: {query_problem[q]}"
            elif o["rows_out"] != rows[q]:
                failures[o["n"]] = f"{o['rows_out']} rows, the checked result has {rows[q]}"
    return failures, problems
