"""Tests of the benchmark's output checks: each passes on a correct output and
fails on a corrupted one. Run from the repository root:

    python3 perfbench/test_checks.py
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


def write(path, columns):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(path, "part-0.parquet"))


def write_by_year(path, column, columns):
    years = sorted(set(columns[column]))
    for y in years:
        idx = [i for i, v in enumerate(columns[column]) if v == y]
        write(os.path.join(path, f"{column}={y}"),
              {k: [v[i] for i in idx] for k, v in columns.items() if k != column})


class Gold:
    """A two-year gold layer small enough to check by hand."""

    SALES = {
        "Order_ID": ["o1", "o2", "o3"], "Product_ID": ["p1", "p2", "p1"],
        "Customer_ID": ["c1", "c2", "c3"], "Seller_ID": ["s1", "s1", "s2"],
        "Order_Date_SK": [20170105, 20180105, 20180210],
        "Sales_Amount": [10.10, 20.20, 5.05], "Freight_Value": [1.00, 2.00, 0.50],
        "Order_Year": [2017, 2018, 2018]}
    ORDERS = {
        "Order_ID": ["o1", "o2", "o3"], "Order_Date_SK": [20170105, 20180105, 20180210],
        "Total_Payment_Value": [11.10, 22.20, 5.55], "Order_Items_Value": [10.10, 20.20, 5.05],
        "Approval_Days": [0, 1, 2], "Total_Delivery_Days": [5, 7, None],
        "Customer_Delivery_Date": [None, None, None], "Estimated_Delivery_Date": [None, None, None],
        "Order_Year": [2017, 2018, 2018]}

    def __init__(self, root):
        self.dir = os.path.join(root, "gold")
        write_by_year(os.path.join(self.dir, "fact_sales"), "Order_Year", self.SALES)
        write_by_year(os.path.join(self.dir, "fact_orders"), "Order_Year", self.ORDERS)
        write_by_year(os.path.join(self.dir, "fact_reviews"), "Review_Year",
                      {"Review_ID": ["r1"], "Review_Score": [4], "Review_Year": [2017]})
        write(os.path.join(self.dir, "dim_customers"),
              {"Customer_ID": ["c1", "c2", "c3"], "Customer_State": ["SP", "RJ", "SP"]})

    def expected(self):
        return {
            "silver_rows": {"orders": 3, "order_items": 3},
            "fact_rows": {"fact_sales": 3, "fact_orders": 3, "fact_reviews": 1},
            "fact_cents": {"fact_sales.Sales_Amount": 3535, "fact_orders.Total_Payment_Value": 3885},
            "review_score_sum": 4,
            "fact_sales_rows_by_year": {"2017": 1, "2018": 2}}

    def refresh(self):
        return {"silver_rows": {"orders": 3, "order_items": 3},
                "gate": [{"name": n, "violations": 0} for n in checks.GATE],
                "gold": self.dir}


class ChecksTest(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp()
        self.con = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.root)

    def test_refresh_check_fails_on_each_corruption(self):
        gold = Gold(self.root)
        self.assertEqual(checks.refresh_problems(self.con, gold.expected(), gold.refresh()), [])

        op = gold.refresh()
        op["silver_rows"]["orders"] = 2
        self.assertIn("silver rows", checks.refresh_problems(self.con, gold.expected(), op)[0])

        op = gold.refresh()
        op["gate"][3]["violations"] = 1
        self.assertIn("gate", checks.refresh_problems(self.con, gold.expected(), op)[0])

        sales = dict(Gold.SALES, Sales_Amount=[10.10, 20.21, 5.05])
        shutil.rmtree(os.path.join(gold.dir, "fact_sales"))
        write_by_year(os.path.join(gold.dir, "fact_sales"), "Order_Year", sales)
        problems = checks.refresh_problems(self.con, gold.expected(), gold.refresh())
        self.assertEqual(len(problems), 1)
        self.assertIn("fact_sales.Sales_Amount: 3536 cents, expected 3535", problems[0])

    def test_report_check_fails_on_a_wrong_cent_or_row(self):
        gold = Gold(self.root).dir
        share = [["SP", 15.15, 42.86], ["RJ", 20.20, 57.14]]
        self.assertIsNone(checks.report_problem(
            self.con, gold, "share_by_customer_state", "all", share))
        self.assertIn("Group_Sales", checks.report_problem(
            self.con, gold, "share_by_customer_state", "all", [["SP", 15.16, 42.86], share[1]]))
        self.assertIsNone(checks.report_problem(
            self.con, gold, "share_by_customer_state", "2018", [["SP", 5.05, 20.0], ["RJ", 20.20, 80.0]]))
        self.assertIn("rows", checks.report_problem(
            self.con, gold, "share_by_customer_state", "2018", [["SP", 5.05, 100.0]]))
        top = [["p1", 15.15, 2, 1], ["p2", 20.20, 1, 2]]
        self.assertIn("row 0", checks.report_problem(self.con, gold, "top_products", "all", top))
        self.assertIsNone(checks.report_problem(
            self.con, gold, "top_products", "all", [top[1][:3] + [1], top[0][:3] + [2]]))
        yoy = checks.report_problem(self.con, gold, "monthly_sales_yoy", "all", [
            [2017, 1, 10.10, None, None, None], [2018, 1, 20.20, 10.10, 10.10, 100.0],
            [2018, 2, 5.05, None, None, None]])
        self.assertIsNone(yoy)

    def test_catalog_check_fails_on_a_wrong_result_or_row_count(self):
        tables = os.path.join(self.root, "tables")
        write(os.path.join(tables, "orders.parquet"),
              {"o_orderkey": [1, 2, 3], "o_orderstatus": ["F", "O", "F"]})
        results = os.path.join(self.root, "results")
        write(os.path.join(results, "q1"), {"o_orderstatus": ["F", "O"], "n": [2, 1]})
        write(os.path.join(results, "q2"), {"o_orderstatus": ["F", "O"], "n": [2, 2]})
        sql = "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1"
        result = {
            "tables_dir": tables, "tables": ["orders"], "results_dir": results, "result_errors": {},
            "swept": ["q1", "q2"], "oracle_sql": {"q1": sql, "q2": sql},
            "ops": [{"n": 0, "key": "q1", "rows_out": 2}, {"n": 1, "key": "q1", "rows_out": 3},
                    {"n": 2, "key": "q2", "rows_out": 2}]}
        failures, problems = checks.check("catalog_sweep", result)
        self.assertEqual(sorted(failures), [1, 2])
        self.assertIn("3 rows", failures[1])
        self.assertIn("differ from DuckDB", failures[2])
        self.assertEqual(len(problems), 1)


if __name__ == "__main__":
    unittest.main()
